package graft.tools

import graft.index.GraftIndex
import graft.model.Pattern
import graft.query.{Api, FoldInputs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Longitudinal maintenance rehearsal: [[ManySegmentRehearsal]] proves the
  * read path at 1000+ segments on a BUILT index; a deployment instead runs
  * ingest CONCURRENTLY with its maintenance — spend-delta compaction
  * (`compactSpends`), LSM-style segment tiering (`compactSegments`), and
  * two-phase GC (`vacuum`) — for weeks. This interleaves all three with a
  * couple thousand streaming-cadence commits (the Indexer drain shape: one
  * `commitAll(inputs+policies+address_stats)` per micro-batch, a spends
  * delta every batch via `markInputs`) and samples, at fixed commit
  * checkpoints: manifest bytes, live segment counts, the flagship
  * window-served policy query, a v6 point lookup, and the reconciled spent
  * count — each gated against its unpruned/predicate twin in-run. The
  * claim under test: query latency and manifest size stay FLAT as commits
  * accumulate, because tiering bounds live segments and compaction bounds
  * the delta, while write amplification stays proportional to the tier
  * merges, not the corpus.
  *
  * Cadence (mirrors a --prune-utxo-less kupo deployment at ~20s blocks):
  * tier inputs to ≤64 / side tables to ≤8 every 16 commits;
  * `compactSpends` + `vacuum(0)` every 64 commits.
  *
  * Run: `sbt "runMain graft.tools.SteadyStateRehearsal [sfDir] [nCommits]"`
  * (defaults sf0.001, 2048). Prints one JSON line, recorded in SCALE.md. */
object SteadyStateRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nCommits = args.drop(1).headOption.map(_.toInt).getOrElse(2048)
    val spark = graft.Session()

    val raw = graft.queries.KupoPipelineQueries.derivedShelleyInputs(spark, sfDir)
    val b = raw.agg(min("created_at"), max("created_at")).head()
    val (loAll, hiAll) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hiAll - loAll + 1) / nCommits)
    // mint-window policy in the middle of the chain (the window-served
    // flagship shape; see ManySegmentRehearsal's rationale)
    val bandPolicy = "f" * 56
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
      .withColumn("_seg", least(lit(nCommits - 1),
        floor((col("created_at") - loAll) / width)).cast("int"))
      .cache()
    inputs.count()

    val ix = new GraftIndex(spark,
      java.nio.file.Files.createTempDirectory("graft-steady").toString,
      vacuumGraceMs = 0L)
    import Api._
    val polQ = MatchesQuery(Pattern.MatchPolicyId(bandPolicy).toText)
    def timed[A](body: => A): (Double, A) = {
      val s = System.nanoTime(); val a = body
      ((System.nanoTime() - s) / 1e9, a)
    }
    def best3[A](body: => A): (Double, A) = {
      val runs = (0 until 3).map(_ => timed(body))
      (runs.map(_._1).min, runs.head._2)
    }

    val tierEvery = 16
    val compactEvery = 64
    val sampleEvery = math.max(1, nCommits / 8)
    var maintSecCum = 0.0
    val samples = scala.collection.mutable.ArrayBuffer[String]()
    var pointTx: String = null

    def sample(commit: Int, ingestSecCum: Double): Unit = {
      val m = ix.manifest
      val manifestBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(ix.root, "manifest.json"))
      val segCounts = Seq("inputs", "policies", "address_stats", "spends",
        "segment_blooms", "checkpoints")
        .map(t => t -> m.tables.getOrElse(t, Nil).size).toMap
      // flagship window-served policy query, gated vs the bare predicate
      val (tPol, nPol) = best3(FoldInputs(ix, polQ).count())
      val nPolRef = ix.inputsWithSpends
        .where(Pattern.MatchPolicyId(bandPolicy).toPredicate).count()
      require(nPol == nPolRef, s"@${commit}: policy window diverged $nPol vs $nPolRef")
      // v6 bloom point lookup, gated vs the full scan
      val (tPoint, nPoint) =
        if (pointTx == null) (0.0, -1L)
        else best3(ix.tableKeyPoint("inputs", "tx_id", pointTx)
          .where(col("tx_id") === pointTx).count())
      if (pointTx != null) {
        val nPointRef = ix.table("inputs").where(col("tx_id") === pointTx).count()
        require(nPoint == nPointRef, s"@${commit}: bloom point diverged $nPoint vs $nPointRef")
      }
      samples += f"""{"commit":$commit,"manifest_bytes":$manifestBytes,"segs":{${segCounts.toSeq.sortBy(_._1).map { case (t, n) => s""""$t":$n""" }.mkString(",")}},"flagship_sec":$tPol%.3f,"flagship_rows":$nPol,"point_sec":$tPoint%.3f,"ingest_sec_cum":$ingestSecCum%.1f,"maint_sec_cum":$maintSecCum%.1f}"""
    }

    var ingestSecCum = 0.0
    (0 until nCommits).foreach { k =>
      val slice = inputs.where(col("_seg") === k).drop("_seg")
      val (tc, _) = timed {
        // FoldInputs resolves created/spent hashes through checkpoint joins,
        // so the drain writes each batch's checkpoints too (the real
        // Indexer shape: one commitAll covering facts + sides +
        // checkpoints). Each batch owns its CONTIGUOUS slot range exactly
        // once — a real chain has one block per slot; deriving rows from
        // created ∪ spent slots per batch would duplicate slots across
        // batches (a spent slot recurs as a later batch's created slot)
        // and the hash join would multiply rows. The last batch extends
        // past the tip to cover trailing spent slots (spent = created+5).
        val cpStart = loAll + k.toLong * width
        val cpEnd = if (k == nCommits - 1) hiAll + 6 else loAll + (k + 1).toLong * width - 1
        val cp = spark.range(cpStart, cpEnd + 1)
          .select(col("id").as("slot_no"),
            md5(col("id").cast("string")).as("header_hash"))
        ix.commitAll(appends = Map(
          "checkpoints" -> cp,
          "inputs" -> slice.withColumn("spent_at", lit(null).cast("long"))
            .withColumn("spent_by", lit(null).cast(graft.Schemas.spentByType))
            .withColumn("spent_with", lit(null).cast("string")),
          "policies" -> graft.ingest.MatchBlock.policiesOf(slice),
          "address_stats" -> graft.ingest.MatchBlock.addressStats(slice)))
        // the derivation's R-flag spends arrive as a DELTA (the streaming
        // shape: marks land batches after their rows), exercising
        // merge-on-read between compactions
        val marks = slice.where(col("spent_at").isNotNull)
          .select(col("tx_id"), col("output_index"), col("spent_at"),
            col("spent_by"), col("spent_with"))
        graft.index.Mutations.markInputs(ix, marks)
      }
      ingestSecCum += tc
      if (pointTx == null && k == nCommits / 2)
        pointTx = inputs.where(col("_seg") === k).select("tx_id").head().getString(0)
      if ((k + 1) % tierEvery == 0) {
        val (tm, _) = timed {
          ix.compactSegments("inputs", 64)
          Seq("policies", "address_stats", "segment_blooms", "spends", "checkpoints")
            .foreach(t => ix.compactSegments(t, 8))
        }
        maintSecCum += tm
      }
      if ((k + 1) % compactEvery == 0) {
        val (tm, _) = timed { ix.compactSpends(); ix.vacuum(0L) }
        maintSecCum += tm
      }
      if ((k + 1) % sampleEvery == 0) sample(k + 1, ingestSecCum)
    }
    inputs.unpersist()

    // the longitudinal claims, asserted on the recorded series: segment
    // counts and manifest bytes bounded (tiering holds), flagship latency
    // flat (last sample within 3x of the first — generous for local jitter)
    val segSeries = samples.map(s => """"inputs":(\d+)""".r
      .findFirstMatchIn(s).get.group(1).toInt)
    require(segSeries.max <= 64 + tierEvery,
      s"tiering failed to bound inputs segments: $segSeries")
    val flagSeries = samples.map(s => """"flagship_sec":([0-9.]+)""".r
      .findFirstMatchIn(s).get.group(1).toDouble)
    require(flagSeries.last <= flagSeries.head * 3 + 0.2,
      s"flagship latency grew across the run: $flagSeries")

    println(s"""{"rehearsal":"steady_state","sf":"$sfDir","commits":$nCommits,"tier_every":$tierEvery,"compact_every":$compactEvery,"samples":[${samples.mkString(",")}]}""")
    spark.stop()
  }
}
