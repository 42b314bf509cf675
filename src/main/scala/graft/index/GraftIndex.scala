package graft.index

import graft.Schemas
import graft.expressions.{DriverLookup, DriverTable, SegmentBloomKernels}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, FileUtil, Options, Path}

import java.nio.charset.StandardCharsets

/** Versioned, segment-based parquet index — the Spark answer to the
  * reference's mutable SQLite index (SURVEY.md §7.4).
  *
  * Layout: `root/manifest.json` (atomic rename swap) lists, per table, the
  * live segment directories plus per-segment min/max stats on the slot column.
  * Every mutation writes new segments and a new manifest; readers pin one
  * manifest = snapshot isolation (the analogue of the reference's WAL-mode
  * reader/writer segregation, /root/reference/src/Kupo/App/Database/SQLite.hs:388-437).
  *
  * Spend-marking (U1 markInputs, SQLite.hs:645-652) is merge-on-read: spends
  * accumulate in a delta table and `inputsWithSpends` reconciles at read time;
  * `compact()` materializes. Rollback (U5, SQLite.hs:799-819) drops whole
  * segments whose min slot is beyond the rollback point — only straddling
  * segments are rewritten. At 100 TB this is the difference between touching
  * a few partitions and rewriting the table.
  */
final class GraftIndex private (val spark: SparkSession, val root: String,
                                val vacuumGraceMs: Long,
                                val manifestRetention: Int,
                                pin: Option[GraftIndex.Manifest],
                                memo: GraftIndex.ReadMemo,
                                inlineMaxRows: Long) {
  import GraftIndex._

  def this(spark: SparkSession, root: String,
           vacuumGraceMs: Long = GraftIndex.DefaultVacuumGraceMs,
           manifestRetention: Int = 1) =
    this(spark, root, vacuumGraceMs, manifestRetention, None, new GraftIndex.ReadMemo,
      GraftIndex.InlineMaxRows)

  require(manifestRetention >= 1,
    s"manifestRetention must be >= 1, got $manifestRetention")

  // All control-plane IO (manifest, vacuum bookkeeping, segment adoption)
  // goes through the Hadoop FileSystem resolved FROM the root path, so the
  // index can live on any scheme Spark can read parquet from — file://,
  // hdfs://, s3a://, ... The data plane (segment reads/writes) is Spark and
  // was always scheme-agnostic.
  private val hconf: Configuration = spark.sessionState.newHadoopConf()
  private val rootPath = new Path(root)
  private val fs: FileSystem = rootPath.getFileSystem(hconf)

  fs.mkdirs(rootPath)

  // fail loudly AT OPEN on a future schema (the reference's
  // UnexpectedUserVersion, SQLite.hs:1246-1259): an index written by a
  // newer library cannot be read, mutated, or migrated by this one. An
  // OLDER schema is openable — but only [[migrate]] will run; every read
  // and mutation fails loudly until it does (reads can't silently
  // null-fill their way past a real layout change).
  require(manifest.schemaVersion <= CurrentSchemaVersion,
    s"index at $root has schema v${manifest.schemaVersion}, newer than this " +
      s"library's v$CurrentSchemaVersion — upgrade the library, not the index")

  def manifest: Manifest =
    pin.getOrElse(Manifest.read(root, hconf).getOrElse(Manifest(0, Map.empty)))

  private def requireCurrentSchema(m: Manifest, op: String): Unit =
    require(m.schemaVersion == CurrentSchemaVersion,
      if (pin.isDefined)
        s"pinned snapshot v${m.version} of $root predates schema " +
          s"v$CurrentSchemaVersion (it is v${m.schemaVersion}) — historical " +
          s"snapshots cannot be migrated in place; read them with the " +
          s"library version that wrote them"
      else
        s"index at $root has schema v${m.schemaVersion} but this library " +
          s"expects v$CurrentSchemaVersion — run migrate() before $op")

  /** Run every pending schema migration, oldest first — the Spark analogue
    * of the reference's `runMigrations` (SQLite.hs:1261-1295): a LINEAR
    * numbered chain, one atomic commit per step (their one-transaction-
    * per-migration). Each step rewrites only its affected tables, segment
    * by segment, preserving segmentation (slot/spent/row stats recompute
    * on the write action, so pruning and rollback surgery stay exact);
    * untouched tables keep their segments verbatim. The manifest swap is
    * the commit point — a crash mid-step leaves the old manifest intact
    * and the half-written segments as ordinary vacuum orphans. Returns the
    * number of migrations applied (0 = already current, the reference's
    * DatabaseNoMigrationNeeded).
    *
    * Under `manifestRetention` > 1, pre-migration snapshots stay PINNED
    * (their segments survive vacuum) until they age out of the window —
    * but reading one fails loudly with the pinned-snapshot message: a
    * historical manifest references the OLD layout and cannot be migrated
    * in place without rewriting history. */
  def migrate(): Int = migrateWith(migrations)

  /** [[migrate]] against an explicit chain — test seam for synthetic-step
    * and crash-resume scenarios (the production registry is the v2..v5
    * chain; the loop, the per-step commit, and mid-chain resume must
    * not regress as it grows). `upTo` caps the run (a crashed-mid-chain
    * simulation): steps with `to` beyond it are left pending, exactly as a
    * crash between commits would. */
  private[graft] def migrateWith(chain: List[SchemaMigration],
                                 upTo: Int = Int.MaxValue): Int = {
    require(pin.isEmpty, "pinned snapshot is read-only — migrate the live index")
    var m = manifest
    val pending = chain.filter(g => g.to > m.schemaVersion && g.to <= upTo).sortBy(_.to)
    // the pending steps must form a CONTIGUOUS run starting right after the
    // index's version — the positional analogue of the reference's
    // `drop currentVersion migrations` (SQLite.hs:1261-1295), which cannot
    // gap by construction. A registry missing an intermediate step (index
    // at v0, chain holding only the v2 step) must fail loudly here, not
    // silently skip the hole and stamp the final version anyway.
    pending.zipWithIndex.foreach { case (g, i) =>
      require(g.to == m.schemaVersion + 1 + i,
        s"migration chain gap: index at schema v${m.schemaVersion}, next " +
          s"pending step produces v${g.to} but v${m.schemaVersion + 1 + i} " +
          s"is missing from the registry — refusing to skip a layout change")
    }
    pending.foreach { mig =>
      val v = m.version + 1
      // backfill reader: sibling tables at the IN-FLIGHT manifest (tables
      // this step's `tables` set does not own are exactly as the previous
      // committed step left them), each file read with its OWN schema — a
      // later step may still owe those tables a rewrite, so a backfill must
      // select only the columns every layout carries
      val mNow = m
      val readTable: String => DataFrame = name =>
        mNow.tables.getOrElse(name, Nil) match {
          case Nil  => emptyOf(name)
          case segs => spark.read.parquet(segs.map(s => s"$root/${s.path}"): _*)
        }
      val tables = mig.tables.foldLeft(m.tables) { (acc, t) =>
        val existing = acc.getOrElse(t, Nil)
        val migrated =
          if (mig.wholeTable) {
            // ONE rewrite job over the union of segments: backfill joins
            // scan their joined side once, not once per segment. The output
            // lands as one segment; stats recompute on the write and
            // compaction re-tiers later appends as usual. A table with no
            // segments still runs (NEW-layout empty frame): a step may
            // CREATE its table from a sibling (v5's address_stats), and a
            // genuinely empty result writes nothing either way.
            val union =
              if (existing.isEmpty) emptyOf(t)
              else spark.read.parquet(existing.map(s => s"$root/${s.path}"): _*)
            writeSegmentAt(t, mig.rewrite(readTable, t, union),
              f"$t/mig${mig.to}%02d-$v%06d-0000").toList
          } else existing.zipWithIndex.flatMap { case (s, i) =>
            // read with the file's OWN schema (not schemaOf: the whole point
            // is that the old layout differs), rewrite, re-stat on the write
            val df = mig.rewrite(readTable, t, spark.read.parquet(s"$root/${s.path}"))
            writeSegmentAt(t, df, f"$t/mig${mig.to}%02d-$v%06d-$i%04d").toList
          }
        acc.updated(t, liveSegments(t, migrated))
      }
      m = Manifest(v, tables, mig.to)
      commitManifestUnchecked(m)
    }
    pending.size
  }

  /** TIME TRAVEL ON THE QUERY SURFACE: a read-only facade of this index
    * pinned to retained version `v` — every read path (`table`,
    * `tableSlotRange`, `reconcile`/`inputsWithSpends`,
    * `inputsForSpentRange`, and hence the whole FoldInputs/counts family)
    * resolves against the pinned manifest instead of re-reading
    * manifest.json, so the snapshot is immune to concurrent mutations,
    * rollbacks and compactions of the live index (vacuum keeps the pinned
    * segments alive while v stays in the retention window). Mutations and
    * vacuum through the facade fail loudly. None when v has aged out. */
  def asOf(version: Long): Option[GraftIndex] =
    asOfVersion(version).map(m =>
      new GraftIndex(spark, root, vacuumGraceMs, manifestRetention, Some(m), memo, inlineMaxRows))

  /** ONE manifest read per QUERY: a read-only facade pinned to the manifest
    * as of NOW. The snapshot-isolation contract ("readers pin one manifest")
    * holds per table-read without this — but a query that touches several
    * tables (FoldInputs: policy/address window probe, inputs scan, spends
    * reconcile, two checkpoint joins) re-resolved the manifest at each
    * touch, so a commit landing mid-construction could mix two index
    * versions in one answer (window from v+1, scan from v). Pinning also
    * caps manifest-parse work at one per query — at 10⁵ segments the
    * manifest is multi-MB, and five parses per point lookup is pure waste.
    * Fails loudly (run-migrate wording, not the historical-snapshot one)
    * when the index needs migration; the concurrent-writer grace story is
    * unchanged (vacuum's grace window protects in-flight pinned readers).
    * The facade shares this index's read memos (tip, decoded rows).
    * Idempotent on an already-pinned facade. */
  def pinned: GraftIndex =
    if (pin.isDefined) this
    else {
      val m = manifest
      requireCurrentSchema(m, "pinning a query snapshot")
      new GraftIndex(spark, root, vacuumGraceMs, manifestRetention, Some(m), memo, inlineMaxRows)
    }

  /** Test seam: this index (same pin, same memos) with another bound on
    * the tables [[checkpointsMemo]], [[addressStatsMemo]] and
    * [[reconcileRead]] inline — a bound of 0 forces every read onto the
    * join paths and the Spark-side window probes. */
  private[graft] def withInlineMaxRows(n: Long): GraftIndex =
    new GraftIndex(spark, root, vacuumGraceMs, manifestRetention, pin, memo, n)

  /** TIME TRAVEL (`manifestRetention` > 1): every commit also writes its
    * manifest as `.manifest-v<version>.json` and keeps the newest
    * `manifestRetention` versions; [[vacuum]] pins the union of their
    * segments, so `tableAt(name, asOfVersion(v).get)` is a consistent
    * historical snapshot until v falls out of retention. The default
    * retention of 1 writes nothing extra — time travel is strictly
    * opt-in, and disk == current manifest stays exact (the rehearsal's
    * vacuum gate). Readers already pin a manifest per query; this merely
    * keeps old manifests (and their segments) reachable on purpose. */
  def asOfVersion(version: Long): Option[Manifest] = {
    val cur = manifest
    if (version == cur.version) Some(cur)
    else {
      val p = versionedManifestPath(version)
      if (!fs.exists(p)) None
      else Manifest.parse(new String(readBytes(fs, p), StandardCharsets.UTF_8))
    }
  }

  /** Versions currently readable via [[asOfVersion]] (newest first). */
  def retainedVersions(): Seq[Long] =
    (manifest.version +: listVersionedManifests().map(_._1)).distinct.sorted.reverse

  private def versionedManifestPath(v: Long) =
    new Path(rootPath, f".manifest-v$v%09d.json")

  private def listVersionedManifests(): Seq[(Long, Path)] = {
    val re = """\.manifest-v(\d{9})\.json""".r
    try fs.listStatus(rootPath).iterator.flatMap { st =>
      st.getPath.getName match {
        case re(v) => Some(v.toLong -> st.getPath)
        case _     => None
      }
    }.toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** ONE commit: swap manifest.json, and under retention > 1 also record
    * the versioned copy and drop versions past the window. Every mutation
    * funnels through here.
    *
    * Ordering: the manifest.json rename IS the commit point, so the
    * versioned time-travel copy is recorded only AFTER the swap succeeds
    * (the segments are already durable by then, so post-swap ordering is
    * safe) — a crash can never leave asOfVersion/retainedVersions exposing
    * a snapshot that was never committed while manifest.json still points
    * at the previous state. The drop-past-window prune then runs on EVERY
    * commit, not just retention > 1 ones: reopening an index at the
    * default retention of 1 after a retention > 1 period must retire the
    * stale versioned manifests (and un-pin their segments from vacuum), or
    * disk is never reclaimed and disabled snapshots stay readable. */
  private def commitManifest(m: Manifest): Unit = {
    // mutating an unmigrated index is forbidden — the new manifest's
    // default schemaVersion would otherwise silently claim the data is
    // current without the migration ever running
    requireCurrentSchema(manifest, "mutating")
    commitManifestUnchecked(m)
  }

  private def commitManifestUnchecked(m: Manifest): Unit = {
    require(pin.isEmpty, "pinned snapshot is read-only — mutate through the live index")
    Manifest.write(root, m, hconf)
    if (manifestRetention > 1)
      writeBytes(fs, versionedManifestPath(m.version),
        Manifest.toJson(m).getBytes(StandardCharsets.UTF_8))
    val keep = if (manifestRetention > 1) manifestRetention else 0
    listVersionedManifests().sortBy(-_._1).drop(keep)
      .foreach { case (_, p) => fs.delete(p, false) }
  }

  private def schemaOf(table: String) = table match {
    case "inputs"      => Schemas.inputsType
    case "spends"      => Schemas.spendsType
    case "checkpoints" => Schemas.checkpointsType
    case "binary_data" => Schemas.binaryDataType
    case "scripts"     => Schemas.scriptsType
    case "patterns"    => Schemas.patternsType
    case "policies"    => Schemas.policiesType
    case "address_stats" => Schemas.addressStatsType
    case "segment_blooms" => Schemas.segmentBloomsType
    case other         => sys.error(s"unknown table: $other")
  }

  /** Tables whose hash-keyed point-lookup columns ALSO get a manifest-level
    * membership sketch in `segment_blooms` (schema v6, the SEGMENT-pruning
    * half of the point index — see [[Schemas.segmentBloomsType]]). The
    * parquet blooms below ([[bloomColumns]]) let a task skip row groups; a
    * point query still scheduled one task per segment just to open footers —
    * at 100 TB, task count was the whole remaining cost (SCALE.md §F.4).
    * `spends` is deliberately absent: it is the bounded merge-on-read delta,
    * read in full by reconciliation; `policies` point-probes by policy_id
    * through its own slot-window mechanism. */
  private def pointBloomColumns(table: String): Seq[String] =
    PointBloomTables.getOrElse(table, Nil)

  /** Hash-keyed point-lookup columns per table: these get parquet bloom
    * filters at segment write (see writeSegmentAt), with dictionary
    * encoding OFF — the keys are unique-per-row random hashes, so a
    * dictionary never wins and parquet would suppress the bloom on any
    * chunk that stayed fully dictionary-encoded. Only uniformly-random
    * keys qualify — blooming a clustered column (created_at) or a
    * low-cardinality one (pattern text) would spend file bytes on what
    * min/max stats or dictionary pages already answer. */
  private def bloomColumns(table: String): Seq[String] = table match {
    case "inputs"      => Seq("tx_id")
    case "spends"      => Seq("tx_id")
    case "binary_data" => Seq("binary_data_hash")
    case "scripts"     => Seq("script_hash")
    case "policies"    => Seq("tx_id")
    case _             => Nil
  }

  /** The ADDRESS-DIMENSION secondary indexes — the analogue of the
    * reference's `inputsByAddress` / `inputsByPaymentCredential` /
    * `policiesByPolicyId` (SQLite.hs:1159-1190): equality-probed by the
    * P3/P4/P9 pattern family, high-cardinality credential hex, but — unlike
    * the tx/datum/script hashes above — heavily REPEATED (one address
    * receives many outputs), so dictionary encoding stays ON. The two
    * mechanisms compose instead of competing: a chunk that stays fully
    * dictionary-encoded is already exactly row-group-skippable (parquet's
    * dictionary filter tests equality against the dictionary page, and the
    * bloom is suppressed as redundant); a chunk whose values overflow the
    * dictionary falls back to plain mid-chunk and THEN carries the bloom —
    * which is precisely the 100 TB regime, where a segment's address count
    * exceeds any dictionary. Either way an exact-address point query opens
    * only the row groups that can match. (P5's address PREFIX queries keep
    * using the within-partition address sort + min/max stats instead.) */
  private def bloomDictColumns(table: String): Seq[String] = table match {
    case "inputs"        => Seq("address", "payment_credential")
    case "policies"      => Seq("policy_id")
    case "address_stats" => Seq("address", "payment_credential")
    case _               => Nil
  }

  /** Slot-stat column used for segment pruning, if the table has one. */
  private def statColumn(table: String): Option[String] = table match {
    case "inputs"      => Some("created_at")
    case "spends"      => Some("spent_at")
    case "checkpoints" => Some("slot_no")
    case "policies"    => Some("created_at") // schema v4: slot-window source
    case _             => None
  }

  def table(name: String): DataFrame = tableAt(name, manifest)

  def tableAt(name: String, m: Manifest): DataFrame = {
    requireCurrentSchema(m, s"reading $name")
    val segs = m.tables.getOrElse(name, Nil)
    if (segs.isEmpty)
      emptyOf(name) // LocalRelation: zero-stat, so joins against it broadcast
    else
      spark.read.schema(schemaOf(name)).parquet(segs.map(s => s"$root/${s.path}"): _*)
  }

  /** Segment-pruned read: only segments whose [min,max] slot stats intersect
    * [lo,hi] are opened (file-level pruning on top of parquet row-group stats). */
  def tableSlotRange(name: String, lo: Option[Long], hi: Option[Long]): DataFrame = {
    val m = manifest
    requireCurrentSchema(m, s"reading $name")
    readSegments(name, segmentsInSlotRange(m.tables.getOrElse(name, Nil), lo, hi))
  }

  private def segmentsInSlotRange(segs: List[Segment],
                                  lo: Option[Long], hi: Option[Long]): List[Segment] =
    segs.filter { s =>
      val okLo = (s.maxSlot, lo) match { case (Some(mx), Some(l)) => mx >= l; case _ => true }
      val okHi = (s.minSlot, hi) match { case (Some(mn), Some(h)) => mn <= h; case _ => true }
      okLo && okHi
    }

  private[index] def readSegments(name: String, segs: List[Segment]): DataFrame =
    if (segs.isEmpty)
      emptyOf(name) // LocalRelation: zero-stat, so joins against it broadcast
    else
      spark.read.schema(schemaOf(name)).parquet(segs.map(s => s"$root/${s.path}"): _*)

  /** POINT-LOOKUP read: segments pruned by the slot window AND the
    * per-segment membership sketch (schema v6, [[Schemas.segmentBloomsType]]).
    * The parquet blooms written at v3 let each task skip every row group,
    * but a point query still scheduled ONE TASK PER SEGMENT just to open
    * footers — at 100 TB, task count was the entire remaining cost vs the
    * reference's resident B-tree (SCALE.md §F.4). This moves the membership
    * test ahead of scheduling: [[keyCandidates]] probes the sidecar's
    * sketches in the driver, then only the candidate segments are scanned.
    *
    * Soundness: blooms never false-negative, so a segment holding the key
    * is always a candidate; a live segment with NO sidecar row (or a null
    * sketch) is scanned conservatively; stale rows for dead segments are
    * ignored (only the LIVE manifest's paths are looked up). The caller's
    * row predicate still decides membership — pruning, never filtering.
    * Gated on 2+ surviving segments like the policy/address window probes:
    * with one segment nothing can be pruned. */
  def tableKeyPoint(name: String, column: String, key: String,
                    lo: Option[Long] = None, hi: Option[Long] = None): DataFrame = {
    val m = manifest
    requireCurrentSchema(m, s"reading $name")
    val segs = segmentsInSlotRange(m.tables.getOrElse(name, Nil), lo, hi)
    readSegments(name, keyCandidates(m, name, column, key, segs).getOrElse(segs))
  }

  /** The sidecar probe alone: which of `segs` might hold `key`? None when
    * the probe cannot narrow (cost-benefit gate, no sidecar, or an
    * unindexed column) — callers then treat every segment as a candidate.
    * Shared by the point-lookup read and the targeted deleteInputs rewrite
    * (the mutation-side use of the same index, like the reference's DELETE
    * walking its B-trees).
    *
    * Runs in the DRIVER, with no Spark job once the sketches are decoded:
    * the kernel the [[graft.expressions.SegmentBloomMightContain]]
    * expression evaluates ([[SegmentBloomKernels]] over `xxhash64(key)`,
    * seed 42), against sketches cached per sidecar segment (see
    * [[decodedRows]]). A distributed filter over the sidecar would cost a
    * job — ~60–100 ms of scheduling — per point read, to answer a question
    * whose inputs only change at a commit. */
  private[graft] def keyCandidates(m: Manifest, name: String, column: String,
                                   key: String,
                                   segs: List[Segment]): Option[List[Segment]] = {
    val bloomSegs = m.tables.getOrElse("segment_blooms", Nil)
    if (segs.size < 2 || bloomSegs.isEmpty || !pointBloomColumns(name).contains(column))
      return None
    val hash = keyHash(key)
    val hits = scala.collection.mutable.HashMap.empty[String, Boolean]
    sketchesOf(bloomSegs).foreach { s =>
      if (s.table == name && s.column == column)
        // a null sketch → conservative hit (scan the segment)
        hits(s.segment) = hits.getOrElse(s.segment, false) ||
          s.bloom.forall(_.mightContainLong(hash))
    }
    Some(segs.filter(s => hits.getOrElse(s.path, true))) // uncovered → scan
  }

  /** Decoded sketch rows of the given `segment_blooms` segments, from
    * [[decodedRows]]. */
  private def sketchesOf(bloomSegs: List[Segment]): Seq[Sketch] =
    decodedRows("segment_blooms", memo.sketchRows, bloomSegs,
        Seq("table_name", "column_name", "segment_path", "bloom")) { r =>
      Sketch(r.getString(1), r.getString(2), r.getString(3),
        Option(r.getAs[Array[Byte]](4)).map(SegmentBloomKernels.decode))
    }

  /** The rows of `segs` (segments of `table`), read as `cols` and decoded
    * in the driver. Segments are immutable, so a segment's decoded rows are
    * cached in `cache` (the table's own) by its path for as long as it
    * stays in the manifest: the first read after a commit decodes only the
    * segments that commit added, all of them in ONE job, and every later
    * read is driver-only. Loading is lazy, on the read path — commits
    * never pay it. Entries whose segment left the probed manifest
    * (compaction, rollback) are dropped at the next load, or as soon as the
    * cache holds more entries than the manifest has segments. The answer
    * is assembled from the entries seen before that prune plus the rows
    * just loaded, so a racing facade on another manifest can cost a
    * reload, never a row. `decode` sees the segment path at column 0 and
    * `cols` from column 1 on. */
  private def decodedRows[A](table: String, cache: SegmentRows[A], segs: List[Segment],
                             cols: Seq[String])(decode: org.apache.spark.sql.Row => A): Seq[A] = {
    val seen = segs.map(s => s.path -> Option(cache.get(s.path)))
    val missing = segs.zip(seen).collect { case (s, (_, None)) => s }
    if (missing.nonEmpty || cache.size > segs.size) {
      val live = segs.iterator.map(_.path).toSet
      cache.keySet.removeIf(p => !live(p))
    }
    val loaded: Map[String, Seq[A]] =
      if (missing.isEmpty) Map.empty
      else {
        // every file lies at <root>/<table>/<segdir>/<file>: the two
        // directories above the file name ARE the manifest's segment path
        val byPath = readSegments(table, missing)
          .select(regexp_extract(input_file_name(), "/([^/]+/[^/]+)/[^/]+$", 1) +:
            cols.map(col): _*)
          .collect()
          .groupBy(_.getString(0))
        missing.map { s =>
          val rows = byPath.getOrElse(s.path, Array.empty).toSeq.map(decode)
          cache.put(s.path, rows)
          s.path -> rows
        }.toMap
      }
    seen.flatMap { case (p, hit) => hit.getOrElse(loaded(p)) }
  }

  /** Live rows of `segs` by manifest stats, saturating; a segment without
    * the stat counts as unbounded. */
  private[graft] def statRows(segs: List[Segment]): Long =
    segs.foldLeft(0L) { (a, s) =>
      math.min(Long.MaxValue / 4, a + s.rows.getOrElse(Long.MaxValue / 4)) }

  /** Live `inputs` rows, by manifest stats, in the segments whose slot
    * stats meet [lo, hi] — the segments a slot-windowed read scans. */
  private[graft] def inputsRowsInSlotRange(lo: Option[Long], hi: Option[Long]): Long =
    statRows(segmentsInSlotRange(manifest.tables.getOrElse("inputs", Nil), lo, hi))

  /** The live checkpoints in the driver ([[Checkpoints]]), decoded once
    * per segment ([[decodedRows]]) and assembled once per checkpoints
    * segment list — what F4's header-hash resolution and
    * `/checkpoints/{slot}` answer from without a Spark job. None when the
    * table may hold more than [[InlineMaxRows]] rows (checkpoints grow
    * with chain length; above the bound the reads keep their segment-pruned
    * scans and threshold-gated joins, and the memo lets its rows go), or
    * when a slot repeats: a join multiplies rows on a duplicate slot, a
    * table cannot. */
  private[graft] def checkpointsMemo: Option[Checkpoints] = {
    val m = manifest
    requireCurrentSchema(m, "reading checkpoints")
    checkpointsOf(m.tables.getOrElse("checkpoints", Nil))
  }

  /** [[checkpointsMemo]] over one checkpoints segment list. */
  private def checkpointsOf(segs: List[Segment]): Option[Checkpoints] =
    if (statRows(segs) > inlineMaxRows) {
      memo.checkpoints = None
      memo.checkpointRows.clear()
      None
    } else memo.checkpoints match {
      case Some((key, cps)) if key == segs => cps
      case _ =>
        val rows = decodedRows("checkpoints", memo.checkpointRows, segs,
          Seq("slot_no", "header_hash"))(r => (r.getLong(1), r.getString(2)))
        val bySlot = scala.collection.immutable.TreeMap.from(rows)
        val cps = if (bySlot.size < rows.size) None else Some(Checkpoints(bySlot,
          DriverTable(bySlot.toSeq.map { case (slot, hash) => Seq(slot) -> hash },
            org.apache.spark.sql.types.StringType)))
        memo.checkpoints = Some((segs, cps))
        cps
    }

  /** R8 selectMaxCheckpoint — the most recent checkpoint, memoized by the
    * live checkpoints segment list. Every routed HTTP read asks for it (the
    * health snapshot behind the ETag), and the answer depends on nothing
    * but that list: segments are immutable, and any commit or rollback
    * that changes checkpoints changes the list, so the memo is exact. A
    * miss takes the last entry of [[checkpointsMemo]] when it applies — the
    * one job that decodes a commit's new segment then also serves the next
    * resume and `/checkpoints` — and otherwise reads only the segments
    * whose max-slot stat can hold the tip. One volatile slot, shared with
    * every facade of this index: racing misses each store a correct
    * (list, answer) pair. */
  def maxCheckpoint: Option[(Long, String)] = {
    val m = manifest
    requireCurrentSchema(m, "reading checkpoints")
    val segs = m.tables.getOrElse("checkpoints", Nil)
    memo.tip match {
      case Some((key, tip)) if key == segs => tip
      case _ =>
        val tip = checkpointsOf(segs) match {
          case Some(cps) => cps.bySlot.lastOption
          case None =>
            val top = segs.flatMap(_.maxSlot).maxOption
            val holders = segs.filter(s => s.maxSlot.isEmpty || s.maxSlot == top)
            readSegments("checkpoints", holders).orderBy(col("slot_no").desc).limit(1)
              .collect().headOption.map(r => (r.getLong(0), r.getString(1)))
        }
        memo.tip = Some((segs, tip))
        tip
    }
  }

  /** The live `address_stats` rows in the driver, decoded once per segment
    * ([[decodedRows]]) — what an address read's slot window folds over
    * without a Spark job (`FoldInputs.addressWindow`). None when the table
    * may hold more than the inline bound ([[InlineMaxRows]]): it grows by
    * one row per address per commit, and above the bound the window keeps
    * its one-job probe and the memo lets its rows go. */
  private[graft] def addressStatsMemo: Option[Seq[AddressStat]] = {
    val m = manifest
    requireCurrentSchema(m, "reading address_stats")
    val segs = m.tables.getOrElse("address_stats", Nil)
    if (statRows(segs) > inlineMaxRows) {
      memo.addressRows.clear()
      None
    } else Some(decodedRows("address_stats", memo.addressRows, segs,
        Seq("address", "payment_credential", "min_slot", "max_slot")) { r =>
      AddressStat(r.getString(1), Option(r.getString(2)), r.getLong(3), r.getLong(4))
    })
  }

  /** A segment with a non-nullable stat column and no stats is provably
    * empty — dropping it from the manifest keeps empty-delta short-circuits
    * (reconcile) and segment pruning honest, at zero extra jobs. */
  private def liveSegments(table: String, segs: List[Segment]): List[Segment] =
    if (statColumn(table).isEmpty) segs else segs.filter(_.minSlot.isDefined)

  /** Membership-sketch rows for one freshly written segment: read BACK just
    * the key columns of the written parquet (columnar — a tiny fraction of
    * segment bytes; never a recompute of the producer pipeline, whose
    * upstream may be arbitrarily expensive) and fold them into one
    * serialized bloom per key column, entirely in-plan via Spark's native
    * `BloomFilterAggregate` — the sketch bytes go straight to the sidecar
    * segment without a driver round-trip. Keys are hashed with xxhash64
    * (seed 42) symmetric with [[keyCandidates]]'s probe. */
  private def bloomFrameFor(table: String, seg: Segment): DataFrame = {
    val cols = pointBloomColumns(table)
    val aggs = cols.map(c => bloomAggColumn(c, seg.rows.getOrElse(1L)).as(s"b_$c"))
    spark.read.schema(schemaOf(table)).parquet(s"$root/${seg.path}")
      .select(cols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(table).as("table_name"), lit(c).as("column_name"),
        lit(seg.path).as("segment_path"), col(s"b_$c").as("bloom"))): _*)).as("r"))
      .select(col("r.*"))
      .where(col("bloom").isNotNull) // belt-and-braces: an (impossible)
      // empty segment aggregates to a null sketch; dropping the row leaves
      // the segment UNCOVERED, which the probe scans conservatively
  }

  /** If the about-to-commit change set wrote segments of point-indexed
    * tables, sketch them (ONE job over the key columns of all of them) and
    * splice one covering `segment_blooms` segment into the table map — the
    * sidecar lands in the SAME atomic manifest bump as the fact segments,
    * so the coverage invariant can never be observed broken. Every write
    * path funnels here (append / commitAll / replace / replaceWith /
    * compactSegments), which is what keeps rollback rewrites and
    * compactions covered without any path-specific logic. */
  private def addBloomSidecar(v: Long, tables: Map[String, List[Segment]],
                              written: Seq[(String, Segment)]): Map[String, List[Segment]] = {
    val targets = written.filter { case (t, _) => pointBloomColumns(t).nonEmpty }
    if (targets.isEmpty) return tables
    val frame = targets.map { case (t, sg) => bloomFrameFor(t, sg) }
      .reduce(_ unionByName _)
    writeSegmentAt("segment_blooms", frame, f"segment_blooms/side-$v%06d") match {
      case None     => tables
      case Some(sg) =>
        tables.updated("segment_blooms", tables.getOrElse("segment_blooms", Nil) :+ sg)
    }
  }

  /** Append one segment (idempotent sinks S7/S8 become plain appends; PK
    * dedup happens at read/compaction — the "INSERT OR IGNORE" analogue).
    * An EMPTY batch registers nothing — the generic form of the reference's
    * M9 conditional side-table write (App.hs:530-544): at streaming cadence,
    * unconditional appends would bloat datum/script tables with thousands
    * of empty segments. */
  def append(table: String, df: DataFrame): Unit = {
    val m = manifest
    // THE SUPERSET INVARIANT, enforced at the write: the v4/v5 windows
    // (policyWindow/addressWindow) and the mutation-side relevance walk
    // (FoldInputs.relevantInputSegments) are sound only while policies /
    // address_stats cover every live inputs row. The Indexer and the
    // backfill maintain them explicitly; a RAW inputs append (rehearsals,
    // ad-hoc loads) silently broke the invariant — a window then derived
    // too-narrow bounds and deleteInputs could durably skip matching
    // segments. Both side-table batches derive from the appended frame
    // itself, so maintain them here, in the same atomic bump. Side tables
    // that are EMPTY stay empty: their windows are gated off entirely, so
    // an index that never indexed them stays cheap and sound.
    if (table == "inputs") {
      val sides = Seq(
        "policies" -> (() => graft.ingest.MatchBlock.policiesOf(df)),
        "address_stats" -> (() => graft.ingest.MatchBlock.addressStats(df)))
        .filter { case (t, _) => m.tables.getOrElse(t, Nil).nonEmpty }
      if (sides.nonEmpty) {
        commitAll(appends =
          Map("inputs" -> df) ++ sides.map { case (t, mk) => t -> mk() })
        return
      }
    }
    val v = m.version + 1
    val seg = writeSegment(table, withSideBackfill(m, table, df), v)
    if (seg.isEmpty) return // nothing written → no manifest bump
    val segs = liveSegments(table, m.tables.getOrElse(table, Nil) ++ seg)
    commitManifest(Manifest(v,
      addBloomSidecar(v, m.tables.updated(table, segs), seg.toSeq.map((table, _)))))
  }

  /** The OTHER arming order of the superset invariant, guarded at the
    * commit that fires it: `append("inputs")` on an index whose window
    * side tables are still empty leaves them empty (their windows are
    * gated off — sound), but the FIRST commit that then makes a side table
    * non-empty (an Indexer.ingest after a raw rehearsal load, a backfill)
    * would cover only its own batch — the table turns non-empty without
    * covering the earlier raw-appended inputs segments, the gate opens,
    * and policyWindow/addressWindow derive too-narrow (or empty-sentinel)
    * windows that can durably skip those segments in deleteInputs and
    * queries. Both side tables derive purely from inputs rows, so on the
    * empty → non-empty transition with pre-existing inputs segments the
    * appended batch is widened with a backfill over ALL live inputs rows,
    * in the same atomic bump — coverage can never be observed broken.
    * Duplicate side rows across batches are harmless by construction: the
    * windows aggregate min/max and the read paths dedup on key. */
  private def withSideBackfill(m: Manifest, t: String, df: DataFrame): DataFrame = {
    val transitions = (t == "policies" || t == "address_stats") &&
      m.tables.getOrElse(t, Nil).isEmpty &&
      m.tables.getOrElse("inputs", Nil).nonEmpty
    if (!transitions) return df
    // Only a NON-EMPTY batch can fire the transition: an empty one writes
    // no segment, the table stays empty, and its windows stay gated off —
    // sound without any backfill. Checking costs one job over the
    // batch-derived frame; skipping the check cost a scan of ALL live
    // inputs segments on EVERY commit of a stream whose batches carry no
    // side rows (policies stays empty → the transition re-arms each drain
    // — O(index) per commit, observed firing per-batch in the net-effect
    // stream suite).
    if (df.isEmpty) return df
    System.err.println(s"[graft] $t at $root turns non-empty over " +
      s"${m.tables("inputs").size} pre-existing inputs segment(s): backfilling " +
      "from all live inputs rows to keep the derived windows supersets")
    val backfill =
      if (t == "policies") graft.ingest.MatchBlock.policiesOf(table("inputs"))
      else graft.ingest.MatchBlock.addressStats(table("inputs"))
    backfill.select(df.columns.map(col): _*).unionByName(df)
  }

  /** Commit several table changes in ONE atomic manifest bump — the true
    * analogue of the reference's one-SQLite-transaction-per-drain
    * (App.hs:512-577: insertCheckpoints → insertInputs → insertPolicies →
    * markInputs → insertBinaryData/insertScripts all inside one
    * transaction). The manifest swaps once, so a crash leaves either the
    * whole batch or none of it (previously each table bumped its own
    * manifest, exposing partial batches). Empty frames register nothing
    * (M9). A no-op change set does not bump the version.
    *
    * The segment writes run SEQUENTIALLY by default. Driver-side
    * optimization is not safe to run concurrently over plans that share
    * STATEFUL expression instances the optimizer evaluates:
    * `ConvertToLocalRelation` and constant folding evaluate expressions
    * over literal rows eagerly, and a shared `from_json` parser evaluated
    * from six optimizer threads at once produced garbled rows (zeroed
    * fields, lost/duplicated outputs; reproduced by IngestStressSpec when
    * the frames of one unmaterialized batch were written concurrently).
    *
    * `concurrentWrites = true` overlaps the writes (up to four at a time)
    * for frames built ONLY from materialized relations — cached or
    * checkpointed rows, parquet segments, and literal rows no
    * single-input operator computes over — whose expressions the
    * optimizer never evaluates
    * (`Indexer.ingest` over its materialized batch, copyFiltered's
    * side-table prunes, rollback's straddling-segment rewrites). This is
    * checked, not assumed: a frame of any other shape fails the commit
    * before anything is written, naming its table
    * ([[GraftIndex.requireMaterialized]]). The atomic single-manifest-bump
    * semantics are unchanged (all writes complete before the one commit,
    * any failure aborts the whole batch with no manifest change). */
  def commitAll(appends: Map[String, DataFrame] = Map.empty,
                replaces: Map[String, DataFrame] = Map.empty,
                replaceKeeping: Map[String, (List[Segment], Option[DataFrame])] = Map.empty,
                staged: Map[String, List[Segment]] = Map.empty,
                concurrentWrites: Boolean = false)
      : Unit = {
    val concurrent = concurrentWrites &&
      appends.size + replaces.size + replaceKeeping.count(_._2._2.isDefined) > 1
    if (concurrent)
      (appends.toSeq ++ replaces ++ replaceKeeping.collect { case (t, (_, Some(df))) => t -> df })
        .foreach { case (t, df) => requireMaterialized(t, df) }
    val m = manifest
    val v = m.version + 1
    // (table, base segments to keep, whether a missing write keeps the base)
    val tasks: Seq[() => (String, List[Segment], Boolean, Option[Segment])] =
      appends.toSeq.map { case (t, df) =>
        () => (t, m.tables.getOrElse(t, Nil), true,
          writeSegment(t, withSideBackfill(m, t, df), v))
      } ++
        replaces.toSeq.map { case (t, df) =>
          () => (t, List.empty[Segment], false, writeSegment(t, df, v))
        } ++
        replaceKeeping.toSeq.map { case (t, (kept, df)) =>
          () => (t, kept, false, df.flatMap(writeSegment(t, _, v)))
        }
    val results: Seq[(String, List[Segment], Boolean, Option[Segment])] =
      if (!concurrent) tasks.map(_())
      else {
        // fresh threads per commit: they inherit the caller's Spark local
        // properties (scheduler pool, job description) at creation; a
        // thread costs far less than the write job it runs
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(tasks.size, 4))
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
        } finally pool.shutdown()
      }
    val anyChange = staged.nonEmpty ||
      results.exists { case (_, _, isAppend, seg) => seg.isDefined || !isAppend }
    if (!anyChange) return
    // staged segments (pre-written via stageSegment) REPLACE their table and
    // count as written for sidecar coverage — they are this commit's bytes,
    // only flushed early so the caller could read them back before the bump
    val tables0 = results.foldLeft(m.tables) { case (acc, (t, base, _, seg)) =>
      acc.updated(t, liveSegments(t, base ++ seg.toList))
    }
    val tables = staged.foldLeft(tables0) { case (acc, (t, segs)) =>
      acc.updated(t, liveSegments(t, segs))
    }
    val written = results.flatMap { case (t, _, _, seg) => seg.map((t, _)) } ++
      staged.toSeq.flatMap { case (t, segs) => segs.map((t, _)) }
    commitManifest(Manifest(v, addBloomSidecar(v, tables, written)))
  }

  /** Replace the full contents of a table with `df` (mutation rewrites). */
  def replace(table: String, df: DataFrame): Unit = {
    val m = manifest
    val v = m.version + 1
    val seg = writeSegment(table, df, v)
    commitManifest(Manifest(v, addBloomSidecar(v,
      m.tables.updated(table, liveSegments(table, seg.toList)),
      seg.toSeq.map((table, _)))))
  }

  /** Replace keeping the given existing segments and adding `df` as a new one
    * (used by rollback: untouched segments survive without a rewrite). */
  def replaceWith(table: String, kept: List[Segment], df: Option[DataFrame]): Unit = {
    val m = manifest
    val v = m.version + 1
    val seg = df.flatMap(writeSegment(table, _, v))
    val segs = kept ++ seg.toList
    commitManifest(Manifest(v, addBloomSidecar(v,
      m.tables.updated(table, liveSegments(table, segs)),
      seg.toSeq.map((table, _)))))
  }

  /** Write one segment; None when the frame is empty (row count rides the
    * same write-action Observation as the slot stats — no extra job). */
  private def writeSegment(table: String, df: DataFrame, version: Long): Option[Segment] =
    writeSegmentAt(table, df, f"$table/seg-$version%06d")

  /** Pre-write one segment for a later [[commitAll]] `staged` entry: the
    * bytes land now — so the caller can derive side tables by READING the
    * written copy instead of re-running its producer plan or holding it in
    * memory — but the manifest learns about them only at the commit, which
    * stays one atomic bump. Bootstrap-only discipline: the caller owns the
    * index (a fresh copy dst) and commits before any other writer bumps
    * the version the path was named after. */
  private[index] def stageSegment(table: String, df: DataFrame): Option[Segment] =
    writeSegment(table, df, manifest.version + 1)

  private def writeSegmentAt(table: String, df: DataFrame, path: String): Option[Segment] = {
    val out = df.select(schemaOf(table).fieldNames.map(col): _*)
    // inputs segments are clustered by slot bucket and sorted by created_at:
    // parquet row-group min/max stats + manifest segment stats then give
    // two-level pruning for slot-range scans (no directory partitioning —
    // multi-segment reads stay trivial and small batches don't explode into
    // thousands of tiny partition dirs)
    lazy val small: Boolean = out.queryExecution.optimizedPlan.stats.sizeInBytes <= (8L << 20)
    val clustered =
      if (table == "inputs") {
        // RANGE partitioning on created_at, not hash on created_bucket:
        // the bucket is a synthetic key with few distinct values (batch
        // slot span / BucketSize — ONE bucket for a steady-state
        // micro-batch), so hash-partitioning on it capped every inputs
        // write at bucket-count parallelism and put whole buckets through
        // single tasks (the guide-§2.5 too-few-distinct-keys skew, at any
        // cluster size — a 10 GB single-bucket batch wrote through one
        // task). Ranging on created_at spreads by data size at ANY
        // parallelism and IS bucket-major by construction (bucket =
        // created_at / BucketSize), so row-group min/max pruning is
        // unchanged — the within-partition sort below still governs — and
        // AQE still right-sizes the partition count from the batch's
        // bytes. Costs one range-bounds sampling pass per write.
        //
        // SMALL-batch cut-over (guide §1.2/§6): the sampling pass is a
        // second full compute of the producer plan plus one extra job —
        // the dominant per-commit cost of the mutation/streaming paths,
        // whose rewrites and micro-batches are small by design. Below the
        // plan-estimated byte threshold the frame lands as ONE sorted
        // file instead: a single file is a single row group, so manifest
        // min/max subsumes bucket-major clustering and nothing is lost to
        // reads. THRESHOLD CALIBRATION (measured): plan sizeInBytes for a
        // parquet-derived frame tracks COMPRESSED scan bytes (the sf0.1
        // shared build estimates ~24 MB for a 90 MB-raw segment), and a
        // pattern filter estimates selectivity 1.0 — so the threshold must
        // sit well under the smallest frame whose read parallelism
        // matters, not at the raw-bytes scale. 8 MB keeps every
        // micro-batch and copy-sized rewrite on the one-file path while
        // corpus-scale builds range exactly as before.
        if (small)
          (out.repartition(1)
            .sortWithinPartitions(col("created_at"), col("address")), true)
        else
          (out.repartitionByRange(col("created_at"))
            .sortWithinPartitions(col("created_at"), col("address")), false)
      }
      else if (SideTables(table)) {
        // policies slot-sorted (row-group min/max stats on created_at line
        // up for slot-scoped scans of the side table), address_stats
        // address-sorted (prefix probes — the P5/P6 delegation part — prune
        // row groups via min/max; exact probes use the bloom/dictionary).
        // Their producers deduplicate or aggregate, i.e. shuffle, and AQE
        // runs that shuffle as a job of its own: a small frame takes the
        // inputs cut-over above — one partition, one file, one job, the
        // shuffle's reduce side folded into the writing task — and a large
        // one keeps whatever partitioning its producer chose.
        val sortCols = table match {
          case "policies"      => Seq("created_at", "policy_id")
          case "address_stats" => Seq("address")
          case _               => Nil
        }
        val placed = if (small) out.coalesce(1) else out
        (if (sortCols.isEmpty) placed else placed.sortWithinPartitions(sortCols.map(col): _*),
          small)
      }
      else
        // the bloom sidecar is ≤ one row per written segment — nothing for
        // AQE to adapt, so it skips the per-stage job tax too
        (out, table == "segment_blooms")
    val (clusteredDf, skipAqe) = clustered
    // AQE materializes every shuffle stage as its OWN job — pure per-commit
    // job-floor tax on a write whose output is a single partition by
    // construction (the small-batch cut-over / the one-row sidecar
    // aggregate). Those writes execute in a conf-isolated sibling session
    // with AQE off (same SparkContext, same SparkConf defaults): one job
    // per write instead of two, and no session-conf mutation that could
    // race with concurrent planner threads. Corpus-scale writes keep AQE
    // (range-partition coalescing is exactly what sizes their files).
    val toWrite =
      if (skipAqe)
        org.apache.spark.sql.graftshim.GraftShim
          .rebind(GraftIndex.noAqeSession(spark), clusteredDf)
      else clusteredDf
    // segment min/max stats ride along with the write action (Observation) —
    // no second read-the-parquet-back job per segment. inputs additionally
    // track max(spent_at): rollback must find baked-in spend marks beyond the
    // rollback point even in segments whose created_at stats look untouched
    // (the reference's UPDATE … SET spent_at = NULL WHERE spent_at > s,
    // /root/reference/src/Kupo/App/Database/SQLite.hs:1057-1059)
    val obs = org.apache.spark.sql.Observation(s"stats-${path.replace('/', '-')}")
    val aggs = Seq(count(lit(1)).as("cnt")) ++
      statColumn(table).toSeq.flatMap(c => Seq(min(col(c)).as("mn"), max(col(c)).as("mx"))) ++
      (if (table == "inputs") Seq(max(col("spent_at")).as("sp")) else Nil)
    // PARQUET BLOOM FILTERS on the hash-keyed lookup columns — the B-tree
    // analogue for point lookups (the reference's ix_inputs_output_reference,
    // db/v1.0.0/002.sql). Slot clustering makes min/max stats prune RANGE
    // scans, but an equality on a uniformly-random md5/blake2b key matches
    // every row group's [min,max] — without blooms, R4/R5/outref/txid point
    // lookups read the whole table at 100 TB. The reader applies them
    // automatically to pushed equality predicates (row-group skip).
    // Dictionary encoding is turned OFF for exactly these columns: parquet
    // suppresses the bloom when a chunk stays fully dictionary-encoded
    // (the dictionary already answers membership exactly), which makes the
    // filter's presence depend on data volume — and unique random hashes
    // don't dictionary-compress at scale anyway (the encoder falls back to
    // plain mid-chunk and keeps the useless dictionary page).
    val hashBloomed = bloomColumns(table).foldLeft(
      toWrite.observe(obs, aggs.head, aggs.tail: _*)
        .write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    // address-dimension secondary keys: bloom ON, dictionary LEFT ON — see
    // bloomDictColumns for why the pair composes (dict filter serves
    // fully-dict chunks, the bloom serves plain-fallback chunks at scale)
    val writer = bloomDictColumns(table).foldLeft(hashBloomed) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    // labeled write jobs (guide §1.5); concurrent commitAll threads each
    // carry their own local properties
    describedAs(spark, s"graft.write $path")(writer.parquet(s"$root/$path"))
    val row: Map[String, Any] = obs.get
    if (row("cnt").asInstanceOf[java.lang.Long] == 0L) return None
    val stats = statColumn(table).flatMap { _ =>
      Option(row("mn").asInstanceOf[java.lang.Long])
        .map(mn => (mn.toLong, row("mx").asInstanceOf[java.lang.Long].toLong))
    }
    val spent: SpentStat =
      if (table != "inputs") SpentStat.Unknown
      else Option(row("sp").asInstanceOf[java.lang.Long])
        .map(sp => SpentStat.MaxAt(sp.toLong): SpentStat)
        .getOrElse(SpentStat.NoneSpent)
    Some(Segment(path, stats.map(_._1), stats.map(_._2), spent,
      Some(row("cnt").asInstanceOf[java.lang.Long].toLong)))
  }

  /** Telescoping SEGMENT compaction — the LSM-tiering analogue for the
    * kupo index (the twin of the curation sinks' `compactSinks` and the
    * ANN index's one-file-per-cell rewrite). Streaming ingest appends one
    * segment per table per micro-batch, and before this the only remedies
    * were FULL rewrites (`compact()`, which also dedups PKs) or the
    * spends-targeted `compactSpends()` — at 10⁴–10⁵ batches the manifest
    * and the scan's file opens grow without bound while full rewrites get
    * ever more expensive. This merges segments VERBATIM (no PK dedup, no
    * reconcile — pure re-filing) until at most `maxSegments` remain,
    * choosing at each step the ADJACENT-IN-SLOT-ORDER pair with the
    * smallest combined row count: young small runs fold cheaply and
    * often, big old runs are rarely touched — bounded write
    * amplification, the classic tiering trade. Slot/spent stats
    * recompute on the merged writes (riding the write action), so range
    * pruning and rollback's segment surgery stay exact; the dereferenced
    * dirs become ordinary vacuum candidates. One atomic manifest bump.
    * Returns segments eliminated. Pre-`rows`-stat manifests treat unknown
    * sizes as large (merged last, conservatively). */
  def compactSegments(tableName: String, maxSegments: Int): Int = {
    require(pin.isEmpty, "pinned snapshot is read-only — compact through the live index")
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    val m = manifest
    val segs = m.tables.getOrElse(tableName, Nil)
    if (segs.size <= maxSegments) return 0
    val unknown = Long.MaxValue / 4 // legacy no-rows segments merge last
    // SATURATING sum: a run holding several unknown-size sentinels must
    // stay "huge", not wrap negative — an overflow here would invert the
    // smallest-pair policy into repeatedly rewriting the LARGEST legacy
    // runs (unbounded write amplification on pre-`rows` manifests)
    def rowsOf(run: Vector[Segment]): Long =
      run.foldLeft(0L)((a, s) => math.min(unknown, a + s.rows.getOrElse(unknown)))
    val runs = GraftIndex.tierAdjacent(
      segs.sortBy(s => (s.minSlot.getOrElse(Long.MinValue), s.path))
        .map(Vector(_)).toVector,
      rowsOf, maxSegments)
    val v = m.version + 1
    var part = 0
    val written = Vector.newBuilder[Segment]
    val merged = runs.flatMap { run =>
      if (run.size == 1) run
      else {
        part += 1
        val df0 = spark.read.schema(schemaOf(tableName))
          .parquet(run.map(s => s"$root/${s.path}"): _*)
        // compacting the SIDECAR doubles as its GC: merged runs keep only
        // rows whose segment is still live (stale rows are never consulted
        // — this just stops them accumulating across mutations)
        val df =
          if (tableName != "segment_blooms") df0
          else {
            val live = m.tables.iterator.filterNot(_._1 == "segment_blooms")
              .flatMap(_._2.iterator.map(_.path)).toSeq
            df0.where(col("segment_path").isin(live: _*))
          }
        val w = writeSegmentAt(tableName, df, f"$tableName/merge-$v%06d-$part%03d")
        written ++= w
        w.toVector
      }
    }
    // merged fact segments need fresh sketches (their constituents' sidecar
    // rows die with them); rides the same atomic bump
    commitManifest(Manifest(v, addBloomSidecar(v,
      m.tables.updated(tableName, liveSegments(tableName, merged.toList)),
      written.result().map((tableName, _)))))
    segs.size - merged.size
  }

  /** Reconcile an inputs scan with the spends delta (merge-on-read).
    * Empty delta (the steady state right after compact()) short-circuits to
    * the bare scan — NO join, no shuffle; a non-empty delta joins as an
    * explicit BROADCAST: the delta is bounded by compaction cadence (like
    * deletion vectors), so the big side never shuffles. Without this the
    * planner picks a SortMergeJoin and shuffles the whole fact table to
    * reconcile a few thousand spend marks — the difference between a
    * map-only scan and a 100 TB shuffle.
    *
    * The broadcast invariant is ENFORCED, not assumed: the delta's size is
    * read off the manifest row stats (zero IO) and compared against
    * `spark.graft.spends.broadcastMaxRows` (default 1M). A deployment that
    * defers compaction past the gate gets a loud stderr line and a plain
    * shuffled join — Catalyst/AQE pick the strategy from real sizes —
    * instead of an executor OOM three stages away from the cause. A
    * segment missing its row stat (pre-v2-stat manifest) counts as
    * unbounded, which fails safe to the shuffle path.
    *
    * This is the path for scans of any size (views, compaction, counts);
    * the HTTP read routes use [[reconcileRead]]. */
  def reconcile(in: DataFrame): DataFrame = {
    val spendSegs = manifest.tables.getOrElse("spends", Nil)
    if (spendSegs.isEmpty) return in
    val dedupKeys = Seq("tx_id", "output_index")
    val renames = Map(
      "spent_at" -> "d_spent_at", "spent_by" -> "d_spent_by", "spent_with" -> "d_spent_with")
    val sp =
      if (spendsDeltaFitsBroadcast(spendSegs))
        broadcast(table("spends")
          // the delta is broadcast-bounded, so dedup it in ONE partition: a
          // single-partition child satisfies the aggregation's distribution
          // and Catalyst inserts no Exchange — reconciled queries run
          // shuffle-FREE end to end instead of paying a (tiny but
          // stage-creating) delta shuffle per query
          .coalesce(1)
          .dropDuplicates(dedupKeys) // idempotent re-marking
          .withColumnsRenamed(renames))
      else
        table("spends").dropDuplicates(dedupKeys).withColumnsRenamed(renames)
    withMarks(in.join(sp, Seq("tx_id", "output_index"), "left_outer"), in.columns,
      col("d_spent_at"), col("d_spent_by"), col("d_spent_with"))
  }

  /** [[reconcile]] for a read route, with no Spark job of its own: when the
    * delta holds at most [[InlineMaxRows]] rows by manifest stats, its
    * marks come from the decoded-rows memo ([[decodedRows]]) as a
    * [[DriverTable]] keyed by (tx_id, output_index), probed per row. A
    * broadcast would rebuild the same few rows in a job per read, though
    * they change only at a commit; a join against a local relation still
    * plans a broadcast exchange, which is a job as well. With `txKey` (a
    * read whose rows all carry that tx_id) the table holds only that
    * transaction's marks.
    *
    * Same answer as the join: the join dedups the delta per key, so a key
    * whose marks differ has no single answer, and such a delta keeps the
    * join. Above the bound it keeps the join too. */
  private[graft] def reconcileRead(in: DataFrame, txKey: Option[String]): DataFrame = {
    val spendSegs = manifest.tables.getOrElse("spends", Nil)
    if (spendSegs.isEmpty || statRows(spendSegs) > inlineMaxRows) {
      memo.spendRows.clear() // no read of this delta uses the memo
      return if (spendSegs.isEmpty) in else reconcile(in)
    }
    inlineSpends(spendSegs, txKey) match {
      case None                           => reconcile(in)
      case Some(marks) if marks.size == 0 => in
      case Some(marks)                    =>
        val d = DriverLookup.column(marks, SpendMarkType, col("tx_id"), col("output_index"))
        withMarks(in, in.columns,
          d.getField("spent_at"), d.getField("spent_by"), d.getField("spent_with"))
    }
  }

  /** The delta's marks by (tx_id, output_index), limited to `txKey`'s
    * transaction; None when one key carries two different marks. */
  private def inlineSpends(segs: List[Segment], txKey: Option[String]): Option[DriverTable] = {
    val marks = decodedRows("spends", memo.spendRows, segs,
        Seq("tx_id", "output_index", "spent_at", "spent_by", "spent_with")) { r =>
      SpendMark(r.getString(1), r.getInt(2),
        org.apache.spark.sql.Row(r.getLong(3), r.getStruct(4), r.getString(5)))
    }
    val byKey = txKey.fold(marks)(t => marks.filter(_.txId == t))
      .groupMap(s => Seq(s.txId, s.outputIndex))(_.mark)
    if (byKey.valuesIterator.exists(_.distinct.size > 1)) None
    else Some(DriverTable(byKey.map { case (k, v) => k -> v.head }, SpendMarkType))
  }

  /** `in`'s columns with the spend columns last, each taken from the mark
    * where there is one — the merge both reconcile paths share. */
  private def withMarks(df: DataFrame, inCols: Array[String], at: org.apache.spark.sql.Column,
                        by: org.apache.spark.sql.Column,
                        wth: org.apache.spark.sql.Column): DataFrame =
    df.select(
      inCols.filterNot(Set("spent_at", "spent_by", "spent_with")).map(col) ++ Seq(
        coalesce(at, col("spent_at")).as("spent_at"),
        coalesce(by, col("spent_by")).as("spent_by"),
        coalesce(wth, col("spent_with")).as("spent_with")): _*)

  /** Manifest-stat gate shared by [[reconcile]] and [[markedBucketRanges]]:
    * does the spends delta provably fit the forced broadcast? Row counts
    * come off the manifest (zero IO); a segment without the stat counts as
    * unbounded, failing safe to the shuffle path. Logs loudly when the
    * answer is no — the deployment signal that compaction cadence slipped.
    * Takes the caller's ALREADY-READ segment list rather than re-reading
    * the manifest: the gate decision is then computed from the same
    * manifest as the delta it gates (a concurrent commit between two reads
    * could otherwise size one manifest's delta against another's), and a
    * reconcile stays one control-plane read, as its scaladoc claims. */
  private def spendsDeltaFitsBroadcast(segs: List[Segment]): Boolean = {
    val maxRows = GraftIndex.positiveLongConf(spark,
      "spark.graft.spends.broadcastMaxRows", DefaultSpendsBroadcastMaxRows)
    val rows = statRows(segs)
    val fits = rows <= maxRows
    if (!fits)
      System.err.println(s"[graft] spends delta at $root holds ~$rows rows " +
        s"(> spark.graft.spends.broadcastMaxRows=$maxRows): joining via " +
        "shuffle — run compactSpends()/compact() to restore the broadcast " +
        "merge-on-read path")
    fits
  }

  /** inputs reconciled with the spends delta — the effective fact table. */
  def inputsWithSpends: DataFrame = reconcile(table("inputs"))

  /** Segment-pruned scan for spent_at-ranged queries — sufficient for rows
    * with NON-NULL spent_at only (the SpentAt branch's predicate; unspent
    * rows may be absent from the result). When the spends delta is empty
    * (steady state after compact()), every effective spent_at is baked into
    * the segments, so NoneSpent segments never contribute and segments
    * whose manifest spent stat proves max(spent_at) < lo cannot either — a
    * ?spent_after query then opens only recently-spent segments, further
    * intersected with the caller's created-at window ([createdLo,
    * createdHi] from the v4/v5 side tables and/or the spent upper bound).
    * With a non-empty delta a mark may target ANY segment, so fall back to
    * the full reconciled scan (pruning would be unsound). */
  def inputsForSpentRange(lo: Option[Long],
                          createdLo: Option[Long] = None,
                          createdHi: Option[Long] = None): DataFrame = {
    val m = manifest
    val deltaEmpty = m.tables.getOrElse("spends", Nil).isEmpty
    if (!deltaEmpty) return inputsWithSpends
    if (lo.isEmpty && createdLo.isEmpty && createdHi.isEmpty) return inputsWithSpends
    // two INDEPENDENT sound prunes, intersected:
    //  - spent stat: every caller wants rows with NON-NULL spent_at (the
    //    SpentAt branch filters on it), so a NoneSpent segment never
    //    contributes regardless of bounds, and a segment whose
    //    max(spent_at) predates the lower bound holds no row spent in
    //    range;
    //  - created window (from the v4/v5 policy/address side tables, plus
    //    the spent upper bound itself — a row is created no later than it
    //    is spent): a segment outside [createdLo, createdHi] holds no
    //    pattern-matching row at all. Stat-less segments stay, conservatively.
    val segs = m.tables.getOrElse("inputs", Nil).filter { s =>
      val spentOk = s.spent match {
        case SpentStat.NoneSpent => false
        case SpentStat.MaxAt(mx) => lo.forall(mx >= _)
        case SpentStat.Unknown   => true // pre-upgrade manifest: can't prune
      }
      spentOk &&
        createdLo.forall(wl => s.maxSlot.forall(_ >= wl)) &&
        createdHi.forall(wh => s.minSlot.forall(_ <= wh))
    }
    if (segs.isEmpty)
      emptyOf("inputs") // LocalRelation: zero-stat, so joins against it broadcast
    else
      spark.read.schema(schemaOf("inputs")).parquet(segs.map(s => s"$root/${s.path}"): _*)
  }

  /** Materialize the spends delta into inputs and dedup PKs (S7 OR IGNORE).
    * FULL rewrite — the only operation that dedups primary keys globally;
    * run it at coarse cadence. The frequent merge is `compactSpends()`. */
  def compact(): Unit = {
    val merged = inputsWithSpends
      .dropDuplicates("tx_id", "output_index")
      .cache()
    merged.count() // materialize before the manifest swap reads are affected
    replace("inputs", merged)
    replace("spends", emptyOf("spends"))
    merged.unpersist()
    vacuum(vacuumGraceMs)
  }

  /** The VACUUM half of U7 (reference: post-copy VACUUM
    * /root/reference/src/Kupo/App/Database/SQLite.hs:476-576, `PRAGMA
    * optimize` :598-602). Mutations write new segments and bump
    * `manifest.json`; nothing before this ever DELETED a dereferenced
    * segment directory, so a streaming deployment (manifest bump per
    * micro-batch, periodic compaction) grew the disk without bound.
    *
    * Deletes segment directories under `root/<table>/` that the CURRENT
    * manifest does not reference, two-phased through
    * `.vacuum-pending.json`: an unreferenced dir is first RECORDED with a
    * first-seen timestamp and only deleted once it has stayed unreferenced
    * for `graceMs` — a reader pinned to an older manifest gets at least the
    * grace window to finish (the analogue of WAL readers draining before a
    * checkpoint truncation; snapshot reads here are per-query, so minutes of
    * grace dwarf any query). Wired into `compact()`, `compactSpends()` and
    * the streaming drain; call directly for an immediate sweep.
    * Returns the number of directories deleted. */
  def vacuum(graceMs: Long): Int = {
    require(pin.isEmpty, "pinned snapshot is read-only — vacuum through the live index")
    // live = the CURRENT manifest's segments, plus — under time-travel
    // retention — every segment any retained versioned manifest still
    // references: a historical snapshot must stay readable until its
    // manifest ages out of the window (then its exclusive segments become
    // ordinary vacuum candidates)
    val live = (manifest +: listVersionedManifests().flatMap { case (_, p) =>
        Manifest.parse(new String(readBytes(fs, p), StandardCharsets.UTF_8))
      }).flatMap(_.tables.valuesIterator.flatten.map(_.path)).toSet
    val now = System.currentTimeMillis()
    def subdirs(p: Path): List[Path] =
      try fs.listStatus(p).iterator.filter(_.isDirectory).map(_.getPath).toList
      catch { case _: java.io.FileNotFoundException => Nil }
    val candidates = for {
      tableDir <- subdirs(rootPath)
      name = tableDir.getName
      // only table payload dirs: skip the stream checkpoint + dotfiles
      if !name.startsWith("_") && !name.startsWith(".")
      seg <- subdirs(tableDir)
    } yield s"$name/${seg.getName}"
    val pending = readVacuumPending()
    val unreferenced = candidates.filterNot(live).map(p => p -> pending.getOrElse(p, now)).toMap
    val (ripe, waiting) = unreferenced.partition { case (_, firstSeen) => now - firstSeen >= graceMs }
    ripe.keysIterator.foreach(rel => fs.delete(new Path(rootPath, rel), true))
    writeVacuumPending(waiting)
    ripe.size
  }

  private def vacuumPendingPath = new Path(rootPath, ".vacuum-pending.json")

  private def readVacuumPending(): Map[String, Long] =
    if (!fs.exists(vacuumPendingPath)) Map.empty
    else {
      val json = new String(GraftIndex.readBytes(fs, vacuumPendingPath), StandardCharsets.UTF_8)
      """"([^"]+)":(\d+)""".r.findAllMatchIn(json)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }

  private def writeVacuumPending(m: Map[String, Long]): Unit =
    if (m.isEmpty) { fs.delete(vacuumPendingPath, false); () }
    else {
      val json = m.toSeq.sorted.map { case (p, t) => s""""$p":$t""" }.mkString("{", ",", "}")
      AtomicSwap.publishFile(hconf, fs, new Path(rootPath, ".vacuum-pending.tmp"),
        vacuumPendingPath, json.getBytes(StandardCharsets.UTF_8))
    }

  /** PARTIAL compaction: fold the spends delta into ONLY the segments that
    * can contain the marked rows. One scan finds the created_at slots the
    * marks actually target (the delta is broadcast-small, so this is a
    * map-only semi-join); segments whose [min,max] slot range contains none
    * of those slots keep their files untouched. At 100 TB this bounds write
    * amplification by the marked segments instead of rewriting the table —
    * the delta-merge analogue of rollback's manifest surgery. Does NOT
    * dedup primary keys across segments (compact() does, at coarser
    * cadence). */
  def compactSpends(): Unit = {
    val m = manifest
    if (m.tables.getOrElse("spends", Nil).isEmpty) return
    val ranges = markedBucketRanges()
    val (touched, untouched) = m.tables.getOrElse("inputs", Nil).partition { sg =>
      (sg.minSlot, sg.maxSlot) match {
        case (Some(mn), Some(mx)) => intersectsAny(ranges, mn, mx)
        case _                    => true // no stats: rewrite conservatively
      }
    }
    if (touched.nonEmpty) {
      val df = reconcile(spark.read.schema(schemaOf("inputs"))
        .parquet(touched.map(sg => s"$root/${sg.path}"): _*))
        .cache()
      df.count() // materialize before the manifest swap affects reads
      replaceWith("inputs", untouched, Some(df))
      df.unpersist()
    }
    replace("spends", emptyOf("spends"))
    vacuum(vacuumGraceMs)
  }

  /** Merged, sorted [min,max] created_at ranges (one per touched
    * created_bucket) of the rows the spends delta marks. This is the
    * driver-side footprint of `compactSpends`: O(distinct created_bucket) —
    * bounded by chain length / BucketSize — NOT O(marked rows). Collecting
    * the raw slot set (round 2) put millions of longs on the driver heap and
    * made the per-segment check O(|slots|); a bucket is BucketSize slots, so
    * the range check loses almost no pruning precision (a segment is a
    * bucket-clustered run anyway) while the collect stays a few KB. */
  private[graft] def markedBucketRanges(): Array[(Long, Long)] = {
    // same manifest-stat gate as reconcile(): compactSpends is the REMEDY
    // for an oversized delta, so its own semi-join must not die on the
    // broadcast the delta already outgrew — over threshold the hint drops
    // and Catalyst plans a shuffled semi-join
    val bare = table("spends").select("tx_id", "output_index").distinct()
    val delta =
      if (spendsDeltaFitsBroadcast(manifest.tables.getOrElse("spends", Nil)))
        broadcast(bare)
      else bare
    val perBucket = table("inputs")
      .join(delta, Seq("tx_id", "output_index"), "left_semi")
      .groupBy("created_bucket")
      .agg(min("created_at").as("mn"), max("created_at").as("mx"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    perBucket.foreach { case (mn, mx) =>
      if (merged.nonEmpty && mn <= merged.last._2) {
        val (lmn, lmx) = merged.last
        merged(merged.size - 1) = (lmn, math.max(lmx, mx))
      } else merged += ((mn, mx))
    }
    merged.toArray
  }

  /** Does [mn,mx] intersect any of the merged, sorted `ranges`? Binary search
    * for the first range ending at or after mn — O(log buckets) per segment. */
  private def intersectsAny(ranges: Array[(Long, Long)], mn: Long, mx: Long): Boolean = {
    var lo = 0; var hi = ranges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ranges(mid)._2 < mn) lo = mid + 1 else hi = mid
    }
    lo < ranges.length && ranges(lo)._1 <= mx
  }

  /** LocalRelation-backed (NOT an empty RDD): an RDD-backed frame has no
    * stats and reports `defaultSizeInBytes`, so the static planner treats a
    * provably EMPTY side table as an un-broadcastable giant and plans a
    * sort-merge join against it (AQE rescues it at runtime, but the plan
    * shape gates read static plans). A LocalRelation knows it holds zero
    * rows and broadcasts. */
  def emptyOf(table: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schemaOf(table))

  /** Adopt another index's segments for `table` verbatim: file-level copy of
    * the segment directories plus manifest registration with the SAME stats
    * — no Spark job, no decode/re-encode. The bulk-bootstrap path for tables
    * copied unfiltered (copyDatabase's checkpoints): at scale this is a
    * distributed-FS copy of immutable files, not a recompute. */
  def adoptSegments(table: String, src: GraftIndex): Unit = {
    val m = manifest
    val srcSegs = src.manifest.tables.getOrElse(table, Nil)
    // adopted segments get DST-namespaced paths: registering the source's
    // own seg-NNNNNN names verbatim would collide with this index's
    // version-numbered writes once its counter catches up, silently
    // clobbering the adopted files
    val adopted = srcSegs.zipWithIndex.map { case (sg, i) =>
      val path = f"$table/adopt-${m.version + 1}%06d-$i%03d"
      val from = new Path(src.root, sg.path)
      val to = new Path(rootPath, path)
      val srcFs = from.getFileSystem(hconf)
      fs.mkdirs(to.getParent)
      // a crashed earlier attempt (copy done, manifest bump not) recomputes
      // the same version and hence the same `to`; FileUtil.copy would then
      // NEST the new copy inside the existing dir (checkDest redirects to
      // to/<srcName> when the destination exists) alongside the partial
      // files — delete the leftover first so retries overwrite cleanly
      fs.delete(to, true)
      // recursive, cross-filesystem copy: src and dst may live on different
      // schemes (bootstrap a local index from an hdfs:// one, or vice versa)
      if (!FileUtil.copy(srcFs, from, fs, to, false, true, hconf))
        throw new java.io.IOException(s"adoptSegments: copy $from -> $to failed")
      sg.copy(path = path)
    }
    commitManifest(Manifest(m.version + 1, m.tables.updated(table, adopted)))
  }

  /** Register the index as temp views (`<prefix>inputs` is the RECONCILED
    * fact table; side tables verbatim), pinned to the CURRENT manifest —
    * a snapshot-isolated SQL surface: `spark.sql("SELECT … FROM g_inputs")`.
    * Re-register to see later writes. On a pinned [[asOf]] facade the
    * views expose that historical snapshot — time travel for plain SQL
    * (`ix.asOf(v).foreach(_.createOrReplaceViews("v3_"))`). */
  def createOrReplaceViews(prefix: String = "g_"): Unit = {
    val m = manifest
    reconcile(tableAt("inputs", m)).createOrReplaceTempView(s"${prefix}inputs")
    Seq("checkpoints", "binary_data", "scripts", "patterns", "policies",
        "address_stats", "segment_blooms")
      .foreach(t => tableAt(t, m).createOrReplaceTempView(s"$prefix$t"))
  }
}

object GraftIndex {
  /** Default reader-drain grace before a dereferenced segment dir is
    * deleted (see `vacuum`). Snapshot reads pin a manifest per QUERY, not
    * per session, so ten minutes is orders of magnitude beyond any query. */
  val DefaultVacuumGraceMs: Long = 10L * 60 * 1000

  /** Ceiling (rows, from manifest stats — no IO) on the spends delta that
    * [[GraftIndex.reconcile]] will broadcast; ~1M delta rows is ~200 MB
    * serialized, comfortably under executor broadcast budgets, and a delta
    * past it means compaction cadence has slipped — reconcile then falls
    * back to a shuffled join LOUDLY instead of OOMing the executors.
    * Override per-session via `spark.graft.spends.broadcastMaxRows`. */
  val DefaultSpendsBroadcastMaxRows: Long = 1000000L

  /** Ceiling (rows, from manifest stats) on a checkpoints table or spends
    * delta that the read routes resolve in the driver instead of joining
    * ([[GraftIndex.checkpointsMemo]], [[GraftIndex.reconcileRead]]). A
    * [[DriverTable]] is probed by hash, so a looked-up row costs the same
    * at any size; what grows is the task each read ships its tables in
    * (Java-serialized with the plan, then deserialized by the task), and
    * the rows the driver keeps decoded. Measured on 4 cores (`local[4]`,
    * both tables at N entries, driver lookups vs broadcast joins, one-
    * partition sorted read of 100 / 1000 looked-up rows, median of 9):
    * N = 6144: 389 vs 822 / 387 vs 744 ms; N = 16384: 746 vs 712 /
    * 742 vs 678 (a second run: 760 vs 883 / 671 vs 693); N = 65536: 3138
    * vs 783; N = 262144: 15944 vs 1115 — mostly the spend marks, whose
    * nested rows deserialize slowest (at 65536 the checkpoints table
    * alone added ~370 ms). The crossover is near 16k; the bound is the
    * largest measured size that still wins clearly. The same bound caps
    * the `address_stats` rows the driver keeps for address windows
    * ([[GraftIndex.addressStatsMemo]]); those are folded in the driver and
    * never shipped. */
  val InlineMaxRows: Long = 6144L

  /** A spend mark's type, the value of the spends [[DriverTable]]. */
  private val SpendMarkType =
    org.apache.spark.sql.types.StructType(Schemas.spendsType.fields.drop(2))

  /** Per-segment max(spent_at) stat — `Unknown` (pre-upgrade manifests: must
    * be rewritten conservatively on rollback), `NoneSpent` (no spent rows),
    * or `MaxAt` (rollback to s can skip the segment iff max ≤ s). */
  sealed trait SpentStat
  object SpentStat {
    case object Unknown extends SpentStat
    case object NoneSpent extends SpentStat
    final case class MaxAt(slot: Long) extends SpentStat
  }

  final case class Segment(path: String, minSlot: Option[Long], maxSlot: Option[Long],
                           spent: SpentStat = SpentStat.Unknown,
                           rows: Option[Long] = None)

  /** `schemaVersion` is the LAYOUT version (the reference's SQLite
    * `user_version`), orthogonal to `version` (the commit counter).
    * Manifests written before the field existed parse as v2 — the schema
    * was already at today's shape when versioning was introduced, so
    * absence means current-as-of-then, never "ancient". */
  final case class Manifest(version: Long, tables: Map[String, List[Segment]],
                            schemaVersion: Int = CurrentSchemaVersion)

  /** The schema version this library reads and writes. v1 = the pre-
    * spend-column inputs layout (the reference before db/v2.10.0); v2 =
    * spent_by/spent_with on inputs (db/v2.10.0/001.sql); v3 = every
    * inputs/policies segment guarantees the ADDRESS-DIMENSION point-lookup
    * indexes (bloom-or-full-dictionary row groups on address/
    * payment_credential/policy_id; see [[bloomDictColumns]]), the analogue
    * of the reference's index-creating migrations (inputsByAddress et al.,
    * SQLite.hs:1159-1190) — a layout version even though the ROW schema is
    * unchanged: v2 segments read fine but point-probe like a table scan at
    * 100 TB, and the only way to know every file carries the index is to
    * have rewritten them under one versioned commit; v4 = policies
    * carries created_at ([[graft.Schemas.policiesType]]), backfilled from
    * inputs, so policy queries can derive a slot window and prune inputs
    * SEGMENTS (the Spark answer to scanning the policiesByPolicyId
    * B-tree); v5 = current — the address_stats side table exists
    * ([[graft.Schemas.addressStatsType]]), created by backfill from
    * inputs, giving ADDRESS-scoped queries (P3/P4/P5/P6) the same
    * slot-window segment prune; v6 = current — the segment_blooms sidecar
    * exists ([[graft.Schemas.segmentBloomsType]]): per-segment key-
    * membership sketches over the hash-keyed point-lookup columns, created
    * by a READ-only backfill (no fact bytes rewritten) and maintained by
    * every subsequent write — point queries prune SEGMENTS with it, where
    * v3's parquet blooms could only prune row groups inside a task that
    * still had to be scheduled. */
  val CurrentSchemaVersion: Int = 6

  /** (table → hash-keyed point-lookup columns) covered by the
    * `segment_blooms` sidecar — static so the v6 backfill migration and the
    * per-write maintenance cannot drift apart. */
  private[index] val PointBloomTables: Map[String, Seq[String]] = Map(
    "inputs"      -> Seq("tx_id"),
    "binary_data" -> Seq("binary_data_hash"),
    "scripts"     -> Seq("script_hash"))

  /** Driver-side read state one index shares with every facade it hands
    * out ([[GraftIndex.pinned]], [[GraftIndex.asOf]]). Every entry is
    * keyed by immutable segment identity, so nothing ever invalidates them;
    * they are only replaced or pruned. */
  private[index] final class ReadMemo {
    /** checkpoints segment list → its most recent checkpoint. */
    @volatile var tip: Option[(List[Segment], Option[(Long, String)])] = None
    /** checkpoints segment list → [[GraftIndex.checkpointsMemo]]'s answer. */
    @volatile var checkpoints: Option[(List[Segment], Option[Checkpoints])] = None
    /** Per table, segment path → its decoded rows ([[GraftIndex.decodedRows]]). */
    val sketchRows = new SegmentRows[Sketch]
    val checkpointRows = new SegmentRows[(Long, String)]
    val spendRows = new SegmentRows[SpendMark]
    val addressRows = new SegmentRows[AddressStat]
  }

  private[index] type SegmentRows[A] = java.util.concurrent.ConcurrentHashMap[String, Seq[A]]

  /** One decoded `segment_blooms` row; `bloom` None = null sketch. */
  private[index] final case class Sketch(table: String, column: String, segment: String,
                                         bloom: Option[org.apache.spark.util.sketch.BloomFilter])

  /** One decoded `spends` row; `mark` holds spent_at, spent_by, spent_with. */
  private[index] final case class SpendMark(txId: String, outputIndex: Int,
                                            mark: org.apache.spark.sql.Row)

  /** One decoded `address_stats` row: an address's creation-slot window
    * within one commit. */
  final case class AddressStat(address: String, paymentCredential: Option[String],
                               minSlot: Long, maxSlot: Long)

  /** The live checkpoints, held in the driver: `bySlot` for
    * `/checkpoints/{slot}`, `table` (slot → header hash) for F4's per-row
    * lookup. */
  final case class Checkpoints(bySlot: scala.collection.immutable.SortedMap[Long, String],
                               table: DriverTable)

  /** The probe key's hash: Catalyst's own `xxhash64` (seed 42) evaluated in
    * the driver — the exact expression [[bloomAggColumn]] folds into every
    * sketch. */
  private def keyHash(key: String): Long =
    new XxHash64(Seq(Literal(key))).eval().asInstanceOf[Long]

  /** Fails, naming `table`, unless `df` is built only from materialized
    * relations — the precondition of [[GraftIndex.commitAll]]'s
    * `concurrentWrites`. Every leaf of its plan, after cached data is
    * substituted, must be cached rows (`InMemoryRelation`), an RDD's rows
    * (`LogicalRDD`: a local checkpoint, a streaming batch), files
    * (`LogicalRelation`: parquet segments) or literal rows
    * (`LocalRelation`); and nothing but column references, aliases and
    * literals may be computed over literal rows by single-input operators,
    * because the optimizer evaluates such expressions in the driver
    * (`ConvertToLocalRelation`). A join or union with literal rows is
    * fine: its other input is not literal. */
  private def requireMaterialized(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, UnaryNode}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def literal(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case u: UnaryNode     => literal(u.child)
      case _                => false
    }
    val plan = df.queryExecution.withCachedData
    val offending = plan.collectLeaves().collectFirst {
      case l if !(l.isInstanceOf[InMemoryRelation] || l.isInstanceOf[LogicalRDD] ||
          l.isInstanceOf[LogicalRelation] || l.isInstanceOf[LocalRelation]) =>
        s"a ${l.nodeName} leaf"
    }.orElse(plan.collectFirst {
      case u: UnaryNode if literal(u.child) && u.expressions.exists(_.exists {
          case _: Attribute | _: Alias | _: Literal => false
          case _                                    => true
        }) => s"${u.nodeName} computes over literal rows"
    })
    offending.foreach { what =>
      throw new IllegalArgumentException(s"concurrent write of $table: the frame is not " +
        s"built only from materialized relations ($what); materialize it or write serially")
    }
  }

  /** Side tables whose small writes take the one-partition cut-over (see
    * `writeSegmentAt`). */
  private val SideTables = Set("policies", "address_stats", "binary_data", "scripts")

  /** Run `f` with the Spark jobs it starts on this thread described as
    * `desc` — how every job the index, the ingest and the tick run is
    * named (`graft.write …`, `graft.ingest …`, `graft.tick …`). Scoped: the
    * caller's own description (an HTTP route, a bench query) is restored
    * afterwards. */
  def describedAs[A](spark: SparkSession, desc: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Conf-isolated sibling session (same SparkContext, SparkConf defaults)
    * with AQE off, for writes whose output is single-partition by
    * construction — see the writeSegmentAt note. Cached per parent session;
    * runtime conf set on the PARENT after creation is not visible here,
    * which is fine: every graft conf is read at plan-BUILD time under the
    * parent session, and only execution moves. */
  private val noAqeSessions =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
                                               org.apache.spark.sql.SparkSession]
  private[graft] def noAqeSession(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    noAqeSessions.computeIfAbsent(s, k => {
      val ns = k.newSession()
      ns.conf.set("spark.sql.adaptive.enabled", "false")
      ns
    })

  /** Parse a positive-long graft conf, failing loudly AT THE READ with the
    * conf key in the message — the [[graft.llm.Sampling.shardRanked]]
    * `require` discipline. Without this a malformed value surfaces as a
    * bare NumberFormatException at query/write time and a non-positive
    * bitsPerKey as a negative sketch size inside BloomFilterAggregate,
    * both far from the misconfigured key. */
  private[index] def positiveLongConf(spark: org.apache.spark.sql.SparkSession,
                                      key: String, default: Long): Long = {
    val v = spark.conf.getOption(key).map { s =>
      try s.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$s'") }
    }.getOrElse(default)
    require(v > 0, s"$key must be a positive integer, got $v")
    v
  }

  /** Serialized-bloom aggregate over `xxhash64(column)` (seed 42 — the
    * probe hashes identically), sized at `spark.graft.bloom.bitsPerKey`
    * (default 20 ≈ 7·10⁻⁵ FPP) for `items` keys. The sizing matters at
    * SEGMENT-COUNT scale, not byte scale: a point probe tests every live
    * segment's sketch, so expected false-positive SCAN TASKS per lookup =
    * segments × FPP — at 10⁵ segments, 10 bits/key (~1%) schedules ~10³
    * wasted tasks per point query while 20 bits/key keeps it ~O(1)
    * (measured: 13/1008 candidates at 10 bits → 1/1008 at 20). Sketch
    * bytes stay negligible beside the 64-hex keys they cover (~2.5
    * bytes/key). The aggregate clamps to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 8M
    * BYTES of bits): beyond ~3.3M rows/segment the FPP degrades gracefully
    * — never a false negative, pruning just gets weaker — and a 100 TB
    * deployment with bigger segments raises the conf. Blooms are
    * self-describing, so sketches written at other sizings keep probing
    * correctly side by side. */
  private def bloomAggColumn(column: String, items: Long): org.apache.spark.sql.Column = {
    // 1000-item floor: the sketch uses double hashing (h1 + i·h2 mod m),
    // whose index sequences lose independence at tiny m — measured FPP at
    // n=6 was 2.1% (10 bits/key) / 0.76% (20) regardless of k, vs ~1e-4 at
    // m ≥ 20k bits. Flooring costs ≤ 2.5 KB per sketch row and only ever
    // affects tiny segments (micro-batch tails, fixtures); production-size
    // segments are far past it.
    val n = math.max(items, 1000L)
    val bitsPerKey = positiveLongConf(org.apache.spark.sql.SparkSession.active,
      "spark.graft.bloom.bitsPerKey", 20L)
    GraftShim.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftShim.expression(col(column)))),
      Literal(n), Literal(n * bitsPerKey), 0, 0).toAggregateExpression())
  }

  /** One step of the linear migration chain (the reference's numbered
    * `migrations` list, SQLite.hs:1280-1295): `to` is the schema version
    * the step produces; `rewrite` receives a READER over sibling tables at
    * the in-flight manifest (each file read with its own schema — a later
    * step may still owe those tables a rewrite), the table name, and the
    * rows being rewritten. Per-segment steps run once per segment;
    * `wholeTable = true` steps run ONCE over the union of the table's
    * segments — the shape for backfill JOINS, where a per-segment loop
    * would re-scan the joined side once per segment. */
  final case class SchemaMigration(to: Int, description: String,
                                   tables: Set[String],
                                   rewrite: (String => DataFrame, String, DataFrame) => DataFrame,
                                   wholeTable: Boolean = false)

  /** Conform a frame to `schema`: missing columns become typed nulls,
    * present ones cast; output in schema order — the generic add-columns
    * migration body (and the guard that writeSegmentAt's strict select
    * can't throw on an old layout). */
  private def conformTo(schema: org.apache.spark.sql.types.StructType,
                        df: DataFrame): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(schema.fields.toSeq.map { f =>
      have.get(f.name) match {
        // catalogString ignores nullability — a cast would fail outright
        // on any target with NOT NULL nested fields (structs can't cast
        // nullable→non-null), and same-type columns need no cast anyway
        case Some(t) if t.catalogString == f.dataType.catalogString => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None    => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  private[graft] val migrations: List[SchemaMigration] = List(
    SchemaMigration(2,
      "add spent_by/spent_with to inputs (reference db/v2.10.0/001.sql)",
      Set("inputs"),
      (_, _, df) => conformTo(graft.Schemas.inputsType, df)),
    SchemaMigration(3,
      "backfill address-dimension secondary indexes on inputs/policies " +
        "(blooms on address/payment_credential/policy_id — the reference's " +
        "inputsByAddress/inputsByPaymentCredential/policiesByPolicyId, " +
        "SQLite.hs:1159-1190)",
      Set("inputs", "policies"),
      // identity on ROWS up to conformance: the layout change is file-level
      // — writeSegmentAt (which every migration rewrite funnels through)
      // emits the bloom options for segments written at this version, so
      // the rewrite alone is the backfill. Conformance pads columns a LATER
      // step owns (v4's policies.created_at reads NULL here and is
      // backfilled for real one commit later); writeSegmentAt's strict
      // select would otherwise throw mid-chain on the old layout.
      (_, t, df) => conformTo(
        if (t == "inputs") graft.Schemas.inputsType else graft.Schemas.policiesType, df)),
    SchemaMigration(4,
      "attach created_at to policies, backfilled from inputs by output " +
        "reference (rows orphaned by earlier input deletions drop out) — " +
        "policy queries derive a slot window from the side table and prune " +
        "inputs segments with it",
      Set("policies"),
      (read, _, df) => {
        // inputs' outref is its PK; the dedup only guards idempotent
        // re-appends that a compaction has not folded yet (a dup would
        // multiply policy rows — harmless to the window aggregate, but
        // table bloat)
        val slots = read("inputs")
          .select(col("tx_id"), col("output_index"), col("created_at"))
          .dropDuplicates("tx_id", "output_index")
        conformTo(graft.Schemas.policiesType,
          df.select("tx_id", "output_index", "policy_id")
            .join(slots, Seq("tx_id", "output_index"), "inner"))
      },
      wholeTable = true),
    SchemaMigration(5,
      "create the address_stats side table from inputs (per-address slot " +
        "windows — the inputsByAddress/inputsByPaymentCredential analogue, " +
        "SQLite.hs:1159-1190): address-scoped queries derive a slot window " +
        "and prune inputs segments with it",
      Set("address_stats"),
      // the existing frame (always empty pre-v5 — the schema gate blocks
      // any earlier writer from creating this table) is ignored: the
      // backfill is a pure aggregate over inputs
      (read, _, _) => {
        val inputs = read("inputs")
        conformTo(graft.Schemas.addressStatsType,
          inputs.groupBy(col("address"))
            .agg(first(col("payment_credential"), ignoreNulls = true)
                .as("payment_credential"),
              min(col("created_at")).as("min_slot"),
              max(col("created_at")).as("max_slot")))
      },
      wholeTable = true),
    SchemaMigration(6,
      "create the segment_blooms sidecar from the hash-keyed tables " +
        "(per-segment key-membership sketches: v3's parquet blooms prune " +
        "row groups inside a scheduled task, this prunes the tasks " +
        "themselves — the remaining 100 TB cost of a point lookup)",
      Set("segment_blooms"),
      // a READ of the key columns grouped by each row's segment directory —
      // never a rewrite of fact bytes (contrast v3, where the layout change
      // lived inside the files). Segment paths are always
      // <table>/<segdir>/<file>, so the directory two levels up IS the
      // manifest's segment path.
      (read, _, df) => {
        val segOf = regexp_extract(input_file_name(), "/([^/]+/[^/]+)/[^/]+$", 1)
        val frames = PointBloomTables.toSeq.sortBy(_._1).flatMap { case (t, cols) =>
          val src = read(t)
          // numBits is a plan-time literal shared by every group: size for
          // the LARGEST segment (oversizing a smaller one costs compressible
          // bytes; undersizing would cost FPP). One cheap count pass over a
          // one-time migration.
          val perSeg = src.groupBy(segOf.as("segment_path")).count().collect()
          if (perSeg.isEmpty) None
          else {
            val maxRows = perSeg.map(_.getLong(1)).max
            val aggs = cols.map(c => bloomAggColumn(c, maxRows).as(s"b_$c"))
            Some(src.groupBy(segOf.as("segment_path"))
              .agg(aggs.head, aggs.tail: _*)
              .select(explode(array(cols.map(c => struct(
                lit(t).as("table_name"), lit(c).as("column_name"),
                col("segment_path"), col(s"b_$c").as("bloom"))): _*)).as("r"))
              .select(col("r.*"))
              .where(col("bloom").isNotNull))
          }
        }
        // nothing to sketch (an index with no point-indexed segments):
        // `df` is already the NEW-layout empty frame
        frames.reduceOption(_ unionByName _).getOrElse(df)
      },
      wholeTable = true))

  // registry invariant, checked at class-load: the production chain is a
  // LINEAR run 2..CurrentSchemaVersion — a gapped or short registry would
  // otherwise surface only when some user's migrate() hits the contiguity
  // guard (or worse, stops below current and every read stays blocked)
  require(migrations.map(_.to) == (2 to CurrentSchemaVersion).toList,
    s"migration registry must be the contiguous chain 2..$CurrentSchemaVersion, " +
      s"got ${migrations.map(_.to)}")

  /** Smallest-adjacent-pair tiering: fold `runs` until at most `max`
    * remain, at each step merging the adjacent pair with the lowest
    * combined weight — young small runs fold cheaply and often, big old
    * runs are rarely touched (bounded write amplification, the classic
    * LSM trade). ONE implementation shared by [[GraftIndex.compactSegments]]
    * and `CurationStream.compactOne` so the policy (adjacency, weighting,
    * tie-break by lowest index) cannot silently fork between the index and
    * the streaming sinks. `weight` must not overflow when two run weights
    * are summed (compactSegments saturates its unknown-size sentinel at
    * Long.MaxValue/4 for exactly this reason). */
  private[graft] def tierAdjacent[A](runs0: Vector[Vector[A]],
                                     weight: Vector[A] => Long,
                                     max: Int): Vector[Vector[A]] = {
    var runs = runs0
    while (runs.size > max) {
      val i = (0 until runs.size - 1).minBy(j => weight(runs(j)) + weight(runs(j + 1)))
      runs = runs.patch(i, Seq(runs(i) ++ runs(i + 1)), 2)
    }
    runs
  }

  /** Hadoop Configuration for callers that don't thread one through: the
    * active Spark session's (so scheme credentials configured on the
    * session apply), or a vanilla one outside any session. */
  private[index] def activeHadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The filesystem control-plane files (manifests, vacuum bookkeeping)
    * are read and written through: the raw filesystem under a checksummed
    * one, `fs` itself on every other scheme. See [[AtomicSwap.publishFile]]
    * for why a checksummed publish races its readers. */
  private[index] def metaFs(fs: FileSystem): FileSystem = fs match {
    case cfs: ChecksumFileSystem => cfs.getRawFileSystem
    case _                       => fs
  }

  private[index] def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = metaFs(fs).open(p)
    try in.readAllBytes() finally in.close()
  }

  private[index] def writeBytes(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = metaFs(fs).create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Rename-with-overwrite through FileContext — ATOMIC on HDFS and local
    * filesystems (the swap the manifest's snapshot isolation rests on).
    * Object stores without atomic rename (s3a) get copy+delete semantics;
    * a deployment there should front the manifest with a consistent store
    * — the same caveat every rename-committed table format carries. */
  private[index] def renameOverwrite(conf: Configuration, fs: FileSystem,
                                     tmp: Path, dst: Path): Unit = {
    val q = fs.makeQualified(dst)
    FileContext.getFileContext(q.toUri, conf)
      .rename(fs.makeQualified(tmp), q, Options.Rename.OVERWRITE)
  }

  object Manifest {
    /** Hand-rolled JSON — flat, fixed shape; avoids dragging a JSON library
      * into the public API. `spent` is absent for Unknown, null for
      * NoneSpent, a number for MaxAt; `rows` (the tiering size stat) is
      * absent when unknown (both backward-compatible reads). */
    def toJson(m: Manifest): String = {
      def segJson(s: Segment) = {
        val spent = s.spent match {
          case SpentStat.Unknown   => ""
          case SpentStat.NoneSpent => ""","spent":null"""
          case SpentStat.MaxAt(v)  => s""","spent":$v"""
        }
        val rows = s.rows.map(r => s""","rows":$r""").getOrElse("")
        s"""{"path":"${s.path}","min":${s.minSlot.getOrElse("null")},"max":${s.maxSlot.getOrElse("null")}$spent$rows}"""
      }
      val tables = m.tables.toSeq.sortBy(_._1).map { case (t, segs) =>
        s""""$t":[${segs.map(segJson).mkString(",")}]"""
      }.mkString(",")
      s"""{"version":${m.version},"schema_version":${m.schemaVersion},"tables":{$tables}}"""
    }

    def write(root: String, m: Manifest,
              conf: Configuration = activeHadoopConf()): Unit = {
      val dst = new Path(root, "manifest.json")
      AtomicSwap.publishFile(conf, dst.getFileSystem(conf),
        new Path(root, s".manifest.tmp.${m.version}"), dst,
        toJson(m).getBytes(StandardCharsets.UTF_8))
    }

    /** Per-root control-plane read counter — a TEST SEAM for the
      * one-manifest-read-per-query contract ([[GraftIndex.pinned]]): at 10⁵
      * segments the manifest is multi-MB, so a query's read count is a
      * scale budget the suite pins, not an implementation detail. Keyed by
      * root so a spec counting ITS index's reads is immune to suites
      * running in parallel in the same JVM. OFF by default: the production
      * read path pays one volatile read, never per-root map entries that
      * accumulate for the JVM lifetime — a spec opts in via [[trackReads]]
      * before taking its first snapshot. */
    @volatile private[graft] var trackReads = false
    private[graft] val readCounts =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    private[graft] def readsOf(root: String): Long = {
      val c = readCounts.get(root); if (c == null) 0L else c.get()
    }

    def read(root: String,
             conf: Configuration = activeHadoopConf()): Option[Manifest] = {
      if (trackReads)
        readCounts.computeIfAbsent(root,
          _ => new java.util.concurrent.atomic.AtomicLong(0)).incrementAndGet()
      val p = new Path(root, "manifest.json")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      parse(new String(readBytes(fs, p), StandardCharsets.UTF_8))
    }

    def parse(json: String): Option[Manifest] = {
      // the leading quote keeps this from matching inside "schema_version"
      val version = """"version":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
      // FROZEN at 2, not CurrentSchemaVersion: a manifest without the field
      // was written when the layout was v2, and that fact does not change
      // when this library moves on — defaulting to the moving constant
      // would make every pre-field manifest parse as already-current after
      // a bump, migrate() a no-op, and tableAt silently null-fill the old
      // layout (the exact silent-read failure U8 exists to block). The
      // case-class default stays CurrentSchemaVersion: that one is for
      // newly CONSTRUCTED manifests.
      val schemaVersion = """"schema_version":(\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(2)
      val tableRe = """"([a-z_]+)":\[([^\]]*)\]""".r
      val segRe = """\{"path":"([^"]+)","min":(null|-?\d+),"max":(null|-?\d+)(?:,"spent":(null|-?\d+))?(?:,"rows":(\d+))?\}""".r
      val tables = tableRe.findAllMatchIn(json).map { tm =>
        val segs = segRe.findAllMatchIn(tm.group(2)).map { sm =>
          def opt(s: String) = if (s == "null") None else Some(s.toLong)
          val spent = Option(sm.group(4)) match {
            case None         => SpentStat.Unknown
            case Some("null") => SpentStat.NoneSpent
            case Some(v)      => SpentStat.MaxAt(v.toLong)
          }
          Segment(sm.group(1), opt(sm.group(2)), opt(sm.group(3)), spent,
            Option(sm.group(5)).map(_.toLong))
        }.toList
        tm.group(1) -> segs
      }.toMap
      Some(Manifest(version, tables, schemaVersion))
    }
  }
}
