package graft.tools

import graft.index.GraftIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal for the schema-v6 segment-bloom point index: the
  * fixture indexes elsewhere hold 1–4 segments, which exercises
  * CORRECTNESS of the prune but not its reason to exist — a production
  * index at streaming cadence holds thousands of segments, and the
  * pre-v6 point lookup scheduled one task per segment just to open each
  * footer (SCALE.md §F.4: at sf0.1 task COUNT was already ~70% of the
  * outref floor). This builds a MANY-SEGMENT index (32 slot-sliced
  * appends — the micro-batch shape) and measures one output-reference
  * point lookup three ways:
  *
  *   - `unpruned`  — `ix.table("inputs")` + the tx_id equality: every
  *                   segment scheduled (the pre-v6 shape; row groups
  *                   still bloom-skip inside each task),
  *   - `pruned`    — `ix.tableKeyPoint`: sidecar probe first, then a scan
  *                   over candidate segments only,
  *   - `pruned_tiered` — same, after `compactSegments("segment_blooms", 4)`
  *                   folds the 32 per-commit sidecar segments (the
  *                   steady-state probe cost once the streaming drain's
  *                   tiering pass has run).
  *
  * Reports segments scheduled + best-of-5 exec times, and FAILS LOUDLY if
  * the three answers differ (pruning must never filter). Run:
  * `sbt "runMain graft.tools.SegmentBloomRehearsal [sfDir]"` — one JSON
  * line, recorded in SCALE.md. */
object SegmentBloomRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session()

    // segments must EXCEED the executor slots for the task-count win to be
    // visible in wall time: N segments on C cores is ceil(N/C) scheduling
    // waves unpruned vs (1 probe wave + 1 scan task) pruned — at 32/32 the
    // unpruned scan is one perfectly parallel wave and only the task COUNT
    // (the thing a 1000-executor cluster pays for) differs
    val nSegs = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val ix = new GraftIndex(spark,
      java.nio.file.Files.createTempDirectory("graft-sbloom-rehearse").toString,
      vacuumGraceMs = 0L)
    val inputs = graft.queries.KupoPipelineQueries.derivedShelleyInputs(spark, sfDir).cache()
    (0 until nSegs).foreach(k =>
      ix.append("inputs", inputs.where(col("created_at") % nSegs === k)))
    inputs.unpersist()
    require(ix.manifest.tables("inputs").size == nSegs)

    val k = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(min("l_orderkey")).head().getLong(0)
    val txId = { val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(k.toString); h + h }

    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def segsOf(df: DataFrame): Int =
      df.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length
    // the timer covers the WHOLE lookup — for the pruned shapes that
    // includes the sidecar probe job, which is exactly the cost the
    // tiered variant is there to bound
    def best5(mk: => DataFrame): (Double, Long, Int) = {
      val runs = (0 until 5).map { _ => timed(mk.count()) }
      (runs.map(_._1).min, runs.head._2, segsOf(mk))
    }

    // warm-up both shapes (class loading, JIT, FS cache)
    ix.table("inputs").where(col("tx_id") === txId).count()
    ix.tableKeyPoint("inputs", "tx_id", txId).where(col("tx_id") === txId).count()

    val (tFull, nFull, sFull) =
      best5(ix.table("inputs").where(col("tx_id") === txId))
    val (tPruned, nPruned, sPruned) =
      best5(ix.tableKeyPoint("inputs", "tx_id", txId).where(col("tx_id") === txId))
    val sidecarSegsBefore = ix.manifest.tables("segment_blooms").size
    ix.compactSegments("segment_blooms", 4)
    ix.vacuum(0L)
    val (tTiered, nTiered, sTiered) =
      best5(ix.tableKeyPoint("inputs", "tx_id", txId).where(col("tx_id") === txId))

    require(nFull == nPruned && nFull == nTiered,
      s"pruned answers diverged: full=$nFull pruned=$nPruned tiered=$nTiered")
    println(f"""{"rehearsal":"segment_bloom","sf":"$sfDir","segments":$nSegs,"rows":$nFull,"unpruned":{"segments_scanned":$sFull,"best_sec":$tFull%.4f},"pruned":{"segments_scanned":$sPruned,"best_sec":$tPruned%.4f,"sidecar_segments":$sidecarSegsBefore},"pruned_tiered":{"segments_scanned":$sTiered,"best_sec":$tTiered%.4f,"sidecar_segments":${ix.manifest.tables("segment_blooms").size}}}""")
    spark.stop()
  }
}
