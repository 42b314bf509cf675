package graft.tools

import graft.llm.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM-operator scale rehearsal — MEASURE the SCALE.md claims for the
  * training-data operators instead of asserting them (the kupo-side twin is
  * [[ScaleRehearsal]]):
  *   (a) cell / bucket / PQ-code assignment plans carry NO hash-partition
  *       exchange — the embedding payload never shuffles;
  *   (b) the ADC query's scan reads ONLY integer code columns (the word
  *       "embedding" is absent from its executed candidate-side plan);
  *   (c) decontamination plans as a broadcast join: zero exchanges keyed on
  *       the gram, only the per-doc count aggregation shuffles;
  *   (d) LSH candidate-pair generation grows LINEARLY in corpus replicas —
  *       salted replicas keep shingle spaces disjoint, so doubling the
  *       corpus must ~double (never ~quadruple) the candidate pairs;
  *   (d2) the train/val split-leakage audit is two id equi-joins over the
  *       pair artifact (labels map-only, corpus never re-shingled) and the
  *       quarantine CLOSES in one pass — the residual audit is empty.
  * Prints one JSON line; numbers recorded in SCALE.md's appendix.
  * Run: `sbt "runMain graft.tools.LlmScaleRehearsal"`. */
object LlmScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")

    // ---- (a) map-only assignment plans ----
    val centroids = emb.where(col("vec_id").isin(10L, 20L, 30L, 40L))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val planes = emb.where(col("vec_id").between(1, 4))
      .select(col("vec_id").as("plane_id"), col("embedding").as("plane"))
    val codebook = Similarity.pqCodebook(emb,
      Seq(10L -> 1, 20L -> 2, 30L -> 3, 40L -> 4), m = 4, subDim = 16)
    def hashExchanges(df: DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val cellsEx = hashExchanges(Similarity.assignCells(emb, centroids))
    val bucketsEx = hashExchanges(Similarity.hyperplaneBucket(emb, planes))
    val encodeEx = hashExchanges(Similarity.pqEncode(emb, codebook, m = 4, subDim = 16))
    // the COMPOSED IVF-PQ encode (assign → residual → code) must stay
    // map-only end to end: at 100 TB the index build is one pass over the
    // vectors in place
    val assignedL2 = Similarity.assignCells(emb, centroids, metric = "l2")
    val residualCb = Similarity.pqCodebook(
      Similarity.residuals(assignedL2, centroids)
        .select(col("vec_id"), col("residual").as("embedding")),
      (1L to 8L).map(i => i -> i.toInt), m = 4, subDim = 16)
    val ivfPqEncodeEx = hashExchanges(
      Similarity.ivfPqEncode(assignedL2, centroids, residualCb, m = 4, subDim = 16))

    // ---- (b) ADC candidate scan never touches the vector payload ----
    val encoded = Similarity.pqEncode(emb, codebook, m = 4, subDim = 16)
      .cache()
    encoded.count()
    val adc = Similarity.pqAdcTopK(encoded, codebook,
      emb.where(col("vec_id") === 7L), queryVecId = 7L, k = 10, m = 4, subDim = 16)
    // the candidate side must scan the cached code frame and nothing else:
    // its InMemoryTableScan column list carries only (vec_id, c0..c3). The
    // full plan text can't be string-searched for "embedding" — the
    // InMemoryRelation echoes its BUILD plan (which read the payload once,
    // at encode time) and the broadcast distance table legitimately reads
    // the query vector.
    val adcPlan = adc.queryExecution.executedPlan.toString
    val candidateScan = "InMemoryTableScan \\[[^\\]]*\\]".r
      .findFirstIn(adcPlan).getOrElse("MISSING")
    val adcReadsPayload = candidateScan == "MISSING" || candidateScan.contains("embedding")

    // ---- (c) decontamination is a broadcast probe ----
    val grams = Dedup.charGrams(docs, n = 8).cache()
    grams.count()
    val overlap = Dedup.benchmarkOverlap(
      grams.where(col("doc_id") % 25 =!= 0), grams.where(col("doc_id") % 25 === 0))
    // the corpus side must never shuffle on the gram: the only acceptable
    // join is a broadcast probe (the benchmark side's own tiny distinct
    // shuffle lives inside the broadcast subtree and is fine) — so the gate
    // is "broadcast join present, NO shuffle-join operator anywhere"
    val decontamPlan = overlap.queryExecution.executedPlan.toString
    val decontamBroadcast = decontamPlan.contains("BroadcastHashJoin")
    val decontamShuffleJoins =
      "SortMergeJoin".r.findAllIn(decontamPlan).length +
        "ShuffledHashJoin".r.findAllIn(decontamPlan).length
    // the Bloom-prefiltered form (benchmark too big to broadcast exactly)
    // must satisfy the SAME no-shuffle-join gate at both scales, and its
    // output must equal the exact form — the no-false-negatives contract
    // measured on real-scale data, not just the unit fixture
    val preOverlap = Dedup.benchmarkOverlapPrefiltered(
      grams.where(col("doc_id") % 25 =!= 0), grams.where(col("doc_id") % 25 === 0))
    val prePlan = preOverlap.queryExecution.executedPlan.toString
    val preShuffleJoins =
      "SortMergeJoin".r.findAllIn(prePlan).length +
        "ShuffledHashJoin".r.findAllIn(prePlan).length
    // TRUE set equality, not a subset test: the union-distinct count alone
    // passes whenever preOverlap ⊆ overlap — an empty or row-dropping
    // prefiltered result would sail through. Pinning preOverlap's own
    // count to the exact count closes both directions (rows match exactly
    // in both frames: same doc_id/gram pairs).
    val preEqualsExact =
      preOverlap.count() == overlap.count() &&
        preOverlap.unionByName(overlap).distinct().count() == overlap.count()

    // ---- (e) ADC recall vs exact L2 — approximation QUALITY, measured ----
    // 4 codewords × 4 subspaces is a deliberately tiny codebook; the gate
    // pins that even this coarse quantizer keeps a useful fraction of the
    // true neighbors (and that the machinery is wired right — a code/table
    // mismatch would crater recall to ~random, 10/499 ≈ 0.02)
    val qRow = broadcast(emb.where(col("vec_id") === 7L)
      .select(col("embedding").as("qe")))
    val exactTop = emb.where(col("vec_id") =!= 7L).crossJoin(qRow)
      .select(col("vec_id"), Similarity.l2sq(col("embedding"), col("qe")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val adcTop = adc.collect().map(_.getLong(0)).toSet
    val recall = exactTop.intersect(adcTop).size / 10.0
    // trained codebook (16 codewords per subspace, per-subspace L2 k-means):
    // training must beat the 4-codeword fixed quantizer on its own corpus
    val trainedCb = Similarity.pqTrainCodebook(emb, m = 4, subDim = 16,
      ks = 16, iters = 3)
    val trainedEnc = Similarity.pqEncode(emb, trainedCb, m = 4, subDim = 16).cache()
    trainedEnc.count()
    val trainedTop = Similarity.pqAdcTopK(trainedEnc, trainedCb,
      emb.where(col("vec_id") === 7L), queryVecId = 7L, k = 10, m = 4, subDim = 16)
      .collect().map(_.getLong(0)).toSet
    val trainedRecall = exactTop.intersect(trainedTop).size / 10.0

    // ---- (e2) int8 scalar quantization: compressed-domain scan quality +
    // plan shape. The comparator is the exact FLOAT DOT top-10 (the metric
    // the integer dot approximates); per-dimension min/max calibration is
    // fine-grained (255 levels/dim), so recall should sit near 1.0 — a
    // calibration/indexing defect craters it to ~random.
    val exactDotTop = emb.where(col("vec_id") =!= 7L).crossJoin(qRow)
      .select(col("vec_id"), Similarity.dot(col("embedding"), col("qe")).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val sqTopDf = Similarity.quantizedTopK(emb, queryVecId = 7L, k = 10)
    val sqPlan = sqTopDf.queryExecution.executedPlan.toString
    val sqShuffleJoins =
      "SortMergeJoin".r.findAllIn(sqPlan).length +
        "ShuffledHashJoin".r.findAllIn(sqPlan).length
    val sqTakeOrdered = sqPlan.contains("TakeOrderedAndProject")
    val sqRecall = exactDotTop.intersect(
      sqTopDf.collect().map(_.getLong(0)).toSet).size / 10.0

    // ---- (f) composed IVF-PQ with TRAINED residual codebooks — the real
    // 100 TB ANN architecture: coarse-assign, train ks-codeword-per-subspace
    // k-means on the residuals, ADC within the probed cells. Residuals
    // cluster far tighter than raw vectors, so recall must beat flat PQ by
    // a wide margin (the gate) — and the recall ceiling is set by nprobe
    // coverage of the true neighbors' cells, also reported.
    //
    // The code BUDGET scales with the corpus, as in any production PQ
    // system: on this synthetic (near-random 64-dim) data, distances
    // concentrate as n grows, so the per-vector byte budget must rise to
    // keep the top-k separable — measured on this fixture family:
    // n=500 → m=4 (4 B/vector) recall 0.7; n=2000 → m=4 collapses to 0.2
    // while m=8 (8 B/vector) holds 0.5, and probing more cells does NOT
    // help (nprobe 3→4 flat at 0.5: quantization error, not probe
    // coverage, is the limiter). Floors sit one 0.1-step under the
    // measured values so a benign single-neighbor drift can't fail a run.
    val query7 = emb.where(col("vec_id") === 7L)
    val big = emb.count() > 600
    val (pqM, pqSubDim, ivfPqFloor) = if (big) (8, 8, 0.4) else (4, 16, 0.6)
    val nprobe = 3 // of 4 cells: recall ceiling stays well above the floor
    val probedCells = centroids.crossJoin(
        broadcast(query7.select(col("embedding").as("qe"))))
      .select(col("centroid_id"), Similarity.l2sq(col("centroid"), col("qe")).as("d"))
      .orderBy(col("d"), col("centroid_id")).limit(nprobe)
      .collect().map(_.getLong(0)).toSet
    val cellOf = assignedL2.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfCeiling = exactTop.count(v => probedCells(cellOf(v))) / 10.0
    val trainedResidualCb = Similarity.pqTrainCodebook(
      Similarity.residuals(assignedL2, centroids)
        .select(col("vec_id"), col("residual").as("embedding")),
      m = pqM, subDim = pqSubDim, ks = 256, iters = 3)
    val ivfPqEnc = Similarity.ivfPqEncode(assignedL2, centroids,
      trainedResidualCb, m = pqM, subDim = pqSubDim).cache()
    ivfPqEnc.count()
    val ivfPqQuery = Similarity.ivfPqTopK(ivfPqEnc, centroids, trainedResidualCb,
      query7, queryVecId = 7L, k = 10, nprobe = nprobe, m = pqM, subDim = pqSubDim)
    // candidate scan of the composed query must also be code-only
    val ivfPqPlan = ivfPqQuery.queryExecution.executedPlan.toString
    val ivfPqScan = "InMemoryTableScan \\[[^\\]]*\\]".r
      .findFirstIn(ivfPqPlan).getOrElse("MISSING")
    val ivfPqReadsPayload = ivfPqScan == "MISSING" ||
      ivfPqScan.contains("embedding") || ivfPqScan.contains("residual")
    val ivfPqTop = ivfPqQuery.collect().map(_.getLong(0)).toSet
    val ivfPqRecall = exactTop.intersect(ivfPqTop).size / 10.0

    // ---- (h) END-TO-END TRAINED pipeline: k-means coarse quantizer
    // (8 trained cells, L2) + residual codebooks — the full production
    // index build, every iteration still map-only. Probed at the SAME
    // corpus fraction as the fixed path (6 of 8 cells = 3 of 4): on
    // near-random data IVF recall is a function of scan fraction, so an
    // equal-fraction gate isolates the quantizer quality from the
    // recall-vs-read trade (which finer cells exist to tune).
    val trainedCents = Similarity.kmeansCentroids(emb, k = 8, iters = 3,
      metric = "l2").cache()
    trainedCents.count()
    val assignedT = Similarity.assignCells(emb, trainedCents, metric = "l2")
    val cbT = Similarity.pqTrainCodebook(
      Similarity.residuals(assignedT, trainedCents)
        .select(col("vec_id"), col("residual").as("embedding")),
      m = pqM, subDim = pqSubDim, ks = 256, iters = 3)
    val encT = Similarity.ivfPqEncode(assignedT, trainedCents, cbT,
      pqM, pqSubDim).cache()
    encT.count()
    val trainedPipeTop = Similarity.ivfPqTopK(encT, trainedCents, cbT,
      query7, queryVecId = 7L, k = 10, nprobe = 2 * nprobe, m = pqM, subDim = pqSubDim)
      .collect().map(_.getLong(0)).toSet
    val trainedPipeRecall = exactTop.intersect(trainedPipeTop).size / 10.0
    // split coverage from quantization error: how many true neighbors live
    // in the probed trained cells at all (the trained path's own ceiling)
    val probedT = trainedCents.crossJoin(
        broadcast(query7.select(col("embedding").as("qe"))))
      .select(col("centroid_id"), Similarity.l2sq(col("centroid"), col("qe")).as("d"))
      .orderBy(col("d"), col("centroid_id")).limit(2 * nprobe)
      .collect().map(_.getLong(0)).toSet
    val cellOfT = assignedT.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainedCeiling = exactTop.count(v => probedT(cellOfT(v))) / 10.0
    // two-stage refinement: ADC shortlist (c=50) + exact re-rank of only
    // those rows — removes the cross-cell drift, so recall must recover
    // (close to) the probe-coverage ceiling
    val rerankTop = Similarity.ivfPqTopKRerank(encT, trainedCents, cbT, emb,
      queryVecId = 7L, k = 10, c = 50, nprobe = 2 * nprobe,
      m = pqM, subDim = pqSubDim)
      .collect().map(_.getLong(0)).toSet
    val rerankRecall = exactTop.intersect(rerankTop).size / 10.0

    // ---- (n) recall-vs-cost CURVE for the composed trained index: sweep
    // (nprobe, c) so a deployment picks operating points from measured
    // data — nprobe prices the scan fraction (nprobe/8 trained cells), c
    // prices the exact-re-rank width. Recall is provably MONOTONE in c at
    // fixed nprobe (the c=50 shortlist contains the c=20 one and the
    // re-rank is exact), so that direction is a hard gate; nprobe at
    // fixed c is reported, not gated (a wider ADC pool can re-shuffle the
    // shortlist either way — that is the quantization-drift effect the
    // re-rank exists to bound).
    val recallCurve = for { np <- Seq(2, 4, 6, 8); cc <- Seq(20, 50) } yield {
      val top = Similarity.ivfPqTopKRerank(encT, trainedCents, cbT, emb,
        queryVecId = 7L, k = 10, c = cc, nprobe = np, m = pqM, subDim = pqSubDim)
        .collect().map(_.getLong(0)).toSet
      (np, cc, exactTop.intersect(top).size / 10.0)
    }
    val recallCurveJson = recallCurve.map { case (np, cc, r) =>
      s"""{"nprobe":$np,"c":$cc,"recall":$r}""" }.mkString("[", ",", "]")

    // ---- (g) the PERSISTED composed index prunes files by cell: written
    // partitioned by cell (the deployment layout), a static nprobe-cell
    // probe must open only the probed partitions' files. The probe list is
    // a driver-side O(|cells|) computation, so the predicate is static and
    // partition pruning happens at planning; the in-query left-semi shape
    // gets the same effect at runtime via dynamic partition pruning.
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    ivfPqEnc.write.partitionBy("cell").mode("overwrite").parquet(idxDir)
    val onDisk = spark.read.parquet(idxDir)
    // count files the executed scan ACTUALLY opened (`inputFiles` lists the
    // relation pre-filter, so it cannot see partition pruning)
    def filesRead(df: DataFrame): Long = {
      df.collect() // collect() runs THIS Dataset's queryExecution, so the
                   // scan node's metrics populate (a write action plans a
                   // separate execution whose metrics df can't see)
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    val idxFilesFull = filesRead(onDisk)
    val idxFilesProbed =
      filesRead(onDisk.where(col("cell").isin(probedCells.toSeq: _*)))
    // reclaim the sf-sized temp index before the JVM exits — this runs every
    // round, and leaked copies are the same /tmp-accumulation class the
    // freshCopyDir fix exists for (ADVICE r6)
    graft.queries.ArtifactStore.deleteTree(java.nio.file.Paths.get(idxDir))

    // ---- (d) LSH pairs grow linearly in salted corpus replicas ----
    // salting every token keeps each replica's shingle space disjoint, so a
    // sub-quadratic candidate generator must ~double pairs when the corpus
    // doubles; an all-pairs generator would ~quadruple them
    def replicas(k: Int): DataFrame = (0 until k).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), " ", s"~$i ").as("text"))).reduce(_ unionByName _)
    def pairCount(corpus: DataFrame): Long =
      Dedup.lshCandidatePairs(
        Dedup.minhashFromGrams(Dedup.charGrams(corpus, n = 8), numHashes = 4),
        bands = 2, rowsPerBand = 2).count()
    val pairs1 = pairCount(replicas(1))
    val pairs2 = pairCount(replicas(2))

    // ---- (d2) split-leakage audit: map-only labels, pair-frame-only
    // audit, one-pass quarantine closure ----
    // the audit must scale as two id equi-joins over the (already linear)
    // candidate-pair artifact: label assignment shuffles nothing, the
    // audit never re-shingles the corpus (no Generate in its plan once the
    // pair artifact is materialized), and dropping the leaked val side
    // closes in ONE pass — the residual audit over surviving labels is
    // empty at any corpus size, not just on the unit fixture
    val splitLabels = graft.llm.Sampling.splitAssign(docs)
    val splitEx = hashExchanges(splitLabels)
    val realPairs = Dedup.lshCandidatePairs(
      Dedup.minhashFromGrams(Dedup.charGrams(docs, n = 8), numHashes = 4),
      bands = 2, rowsPerBand = 2).cache()
    val splitPairsTotal = realPairs.count()
    val leak = graft.llm.Sampling.splitLeakage(splitLabels, realPairs)
    val splitLeakPairs = leak.count()
    // InMemoryTableScan prints the CACHED build lineage (incl. the shingle
    // explodes), so compare Generate counts against the artifact's own
    // plan string: the audit itself must add zero
    def generates(df: DataFrame): Int =
      "Generate".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val leakGenerates = generates(leak) - generates(realPairs)
    val postSplit = graft.llm.Sampling.quarantineLeakedVal(splitLabels, realPairs)
    val splitQuarantined = postSplit.where(col("split") === "quarantined").count()
    val splitResidual = graft.llm.Sampling.splitLeakage(
      postSplit.where(col("split") =!= "quarantined"), realPairs).count()
    realPairs.unpersist()

    // ---- (i) perceptual-hash near-dup: map-only fingerprint, banded join ----
    // dHash is one map pass over the grid (no exchange before the self-join);
    // banded Hamming retrieval must be an equi-join on the (band, slice) key,
    // never a cross product — and the band+verify composition is LOSSLESS, so
    // it returns exactly the brute-force Hamming ball at any corpus size.
    // The CANDIDATE fraction (what the verify stream scans relative to all
    // pairs) is measured and recorded, not hand-waved: fixed-width banding
    // is a constant-fraction prefilter ≈ numBands/2^bandBits, and the demo
    // radius (13 on 56 bits) deliberately runs it dense — production picks
    // bandBits to shrink it (see Dedup.bandedHammingPairs scaladoc).
    val dhashes = Multimodal.dHash(
      Multimodal.grayscaleGrid(emb, "vec_id", "embedding"), w = 8, h = 8).cache()
    val dhashEx = hashExchanges(dhashes)
    val imgPairs = Dedup.bandedHammingPairs(dhashes, bits = 56, bandBits = 4,
      maxHamming = 13, idCol = "vec_id", hashCol = "dhash")
    val imgPlan = imgPairs.queryExecution.executedPlan.toString
    val imgCross = imgPlan.contains("CartesianProduct") ||
      imgPlan.contains("BroadcastNestedLoopJoin")
    val imgPairCount = imgPairs.count()
    val imgBrute = dhashes.as("a").join(dhashes.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))) <= 13)
      .count()
    val mask4 = (1L << 4) - 1
    val banded4 = dhashes.select(col("vec_id"),
      explode(array((0 until 14).map(b => struct(lit(b).as("band"),
        shiftright(col("dhash"), b * 4).bitwiseAND(lit(mask4)).as("bits"))): _*)).as("bd"))
    val imgCandidates = banded4.as("a").join(banded4.as("b"),
      col("a.bd") === col("b.bd") && col("a.vec_id") < col("b.vec_id")).count()
    val nVec = dhashes.count()
    val imgAllPairs = nVec * (nVec - 1) / 2
    // the SCALE-AWARE path (bandBitsFor): at radius ≤ 6 the derivation
    // picks 8-bit bands (fraction 7/256 ≈ 2.7%) — the candidate stream
    // must actually beat the all-pairs scan, and banding must stay
    // lossless vs brute force at the derived parameters
    val bbScaled = Dedup.bandBitsFor(bits = 56, maxHamming = 6, expectedN = nVec)
    val imgScaledPairs = Dedup.bandedHammingPairs(dhashes, bits = 56,
      bandBits = bbScaled, maxHamming = 6, idCol = "vec_id", hashCol = "dhash")
      .count()
    val imgScaledBrute = dhashes.as("a")
      .join(dhashes.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))) <= 6)
      .count()
    val maskScaled = (1L << bbScaled) - 1
    val bandedScaled = dhashes.select(col("vec_id"),
      explode(array((0 until 56 / bbScaled).map(b => struct(lit(b).as("band"),
        shiftright(col("dhash"), b * bbScaled).bitwiseAND(lit(maskScaled)).as("bits"))): _*)).as("bd"))
    val imgScaledCandidates = bandedScaled.as("a").join(bandedScaled.as("b"),
      col("a.bd") === col("b.bd") && col("a.vec_id") < col("b.vec_id")).count()

    // ---- (j) incremental dedup: cross-set banding is EXACT ----
    // the batch-vs-index band join must produce precisely the full-corpus
    // LSH pairing restricted to (batch, index) pairs — nothing lost, no
    // self-pairing gained — while never joining the index with itself
    val sigsAll = Dedup.minhashFromGrams(grams, numHashes = 4).cache()
    sigsAll.count()
    val incCount = Dedup.crossSetCandidates(
      sigsAll.where(col("doc_id") % 5 =!= 0),
      sigsAll.where(col("doc_id") % 5 === 0),
      bands = 2, rowsPerBand = 2).count()
    val crossFromFull = Dedup.lshCandidatePairs(sigsAll, bands = 2, rowsPerBand = 2)
      .where((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
      .count()

    // ---- (k) span dedup: post-filter work sized by TRUE duplication ----
    // (1) salted replicas keep window spaces disjoint, so doubling the
    // corpus must EXACTLY double the duplicated-window stream (an all-pairs
    // or cross-replica-matching formulation would grow faster); (2) the
    // covered-position stream is bounded by n × duplicated windows — the
    // only rows that survive the n_occ>1 filter
    def dupWindowCount(corpus: DataFrame): Long = {
      val w = Dedup.overlappingWindows(corpus, n = 5)
      val c = w.groupBy(col("win")).agg(count(lit(1)).as("n_occ"))
      w.join(c, "win").where(col("n_occ") > 1).count()
    }
    val spanDup1 = dupWindowCount(replicas(1))
    val spanDup2 = dupWindowCount(replicas(2))
    val spanDupDocs = dupWindowCount(docs)
    val spanCovered = Dedup.spanDedup(docs, n = 5)
      .agg(sum(col("n_covered"))).first().getLong(0)

    // ---- (l) round-7 curation operators: plan shapes at fixture scale ----
    // bigram-LM surprisal: model + probe branches must share the (doc,
    // bigram) aggregate's exchange — ONE corpus scan in the executed final
    // plan, and the model joins must broadcast (no sort-merge anywhere)
    val surprisalDf = graft.llm.TextAnalysis.bigramSurprisal(docs)
    // collect() (not count()) so THIS df's AQE final plan materializes in place
    surprisalDf.collect()
    val surprisalPlan = surprisalDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val surprisalScans = "Scan parquet".r.findAllIn(surprisalPlan).length
    val surprisalSmj = surprisalPlan.contains("SortMergeJoin")
    // shard assignment: every exchange keyed by the shard first (the
    // writer layout) — never by the doc id or the full hash. Since the
    // r13 rank decomposition the plan has THREE shard-keyed exchanges:
    // payload ranks within (shard, _sub) sub-shards and the tiny sub-shard
    // counts frame windows per shard for the prefix offsets — payload rows
    // never exchange on the shard alone (one task per shard was the
    // single-task rank ceiling the decomposition removed).
    val shardDf = graft.llm.Sampling.shardAssignment(docs)
    shardDf.collect()
    val shardExchanges = "Exchange hashpartitioning\\([^\\n]*".r
      .findAllIn(shardDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).toList
    // chunking: a pure map — zero exchanges of any kind
    val chunkEx = "Exchange".r.findAllIn(
      graft.llm.Sampling.chunkWithOverlap(docs, window = 64, stride = 48)
        .queryExecution.executedPlan.toString).length
    // balanced sampling: same decomposed shape, keyed by the struct-wrapped
    // group key `_g` (null-safe since the ADVICE r13 fix) and its `_sub`
    // sub-shards — never by the bare payload id
    val balDf = graft.llm.Sampling.balancedSample(
      Similarity.assignCells(emb, centroids).select(col("vec_id"), col("cell")),
      groupCol = "cell", cap = 50, idCol = "vec_id")
    balDf.collect()
    val balExchanges = "Exchange hashpartitioning\\([^\\n]*".r
      .findAllIn(balDf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head).toList

    // ---- (m) data-selection operators: SemDeDup / DSIR / temperature ----
    // SemDeDup: the within-cell pair join must stay an equi-join on the
    // cell (a cartesian here is O(corpus²) at scale), and the decision must
    // keep EXACTLY one member per semantic group — including singletons
    val assignedCos = Similarity.assignCells(emb, centroids)
    val semPairsDf = Dedup.semanticPairs(assignedCos, threshold = 0.35)
    val semCross = semPairsDf.queryExecution.executedPlan.toString
      .contains("CartesianProduct")
    val semPairs = semPairsDf.count()
    val semDecision = Dedup.semDeDup(assignedCos, centroids, threshold = 0.35).cache()
    val semGroups = semDecision.agg(countDistinct(col("cluster_id"))).first().getLong(0)
    val semKept = semDecision.agg(sum(col("keep"))).first().getLong(0)
    semDecision.unpersist()
    // DSIR importance weights: the corpus must explode ONCE (model and
    // scoring share the (doc, bucket) aggregate) and the bucket models must
    // join back as broadcasts — the corpus never shuffles on the bucket
    val docsWide = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val dsirDf = graft.llm.Sampling.importanceWeights(docsWide, col("lang") === "en")
    dsirDf.collect()
    val dsirPlan = dsirDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val dsirScans = "Scan parquet".r.findAllIn(dsirPlan).length
    val dsirModelBroadcast = "BroadcastHashJoin \\[b".r.findFirstIn(dsirPlan).isDefined
    val dsirSmj = dsirPlan.contains("SortMergeJoin")
    // temperature mix: totals must come back onto the |strata|-row frame as
    // a single-row broadcast, never a sort-merge re-join of the corpus
    val tempDf = graft.llm.Sampling.temperatureMixWeights(docsWide)
    tempDf.collect()
    val tempPlan = tempDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val tempBnlj = tempPlan.contains("BroadcastNestedLoopJoin")
    val tempSmj = tempPlan.contains("SortMergeJoin")
    // novelty: the stat must come from aggregates alone — the gram column
    // never appears in a join (a gram-keyed corpus×corpus join would dwarf
    // the aggregate); exactness: total novelty across docs IS the corpus's
    // distinct-gram count (every gram is novel exactly once)
    val novDf = Dedup.noveltyStats(grams)
    val novGramJoin = "Join [a-zA-Z]*\\[gram".r.findFirstIn(
      novDf.queryExecution.executedPlan.toString).isDefined
    val novTotal = novDf.agg(sum(col("n_novel"))).first().getLong(0)
    val novDistinct = grams.select(col("gram")).distinct().count()
    // incremental semantic dedup: candidates must EQUAL the full within-cell
    // pairing restricted to batch×index pairs (nothing lost, no index
    // self-pairing) — the crossSetCandidates exactness discipline
    val incSem = Dedup.incrementalSemanticPairs(
      assignedCos.where(col("vec_id") % 5 =!= 0),
      assignedCos.where(col("vec_id") % 5 === 0), threshold = 0.35).count()
    val crossSem = Dedup.semanticPairs(assignedCos, threshold = 0.35)
      .where((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0)).count()
    // frozen-classifier inference: the (bucket, weight) model must join as
    // a BROADCAST onto the raw token stream (never sort-merge), and the
    // scored corpus must shuffle exactly once — the per-doc aggregate
    val clfModel = graft.llm.TextAnalysis.trainTextClassifier(
      docsWide.where(col("doc_id") % 2 === 0), col("lang") === "en")
    val clfDf = graft.llm.TextAnalysis.applyTextClassifier(
      docsWide.where(col("doc_id") % 2 === 1), clfModel)
    clfDf.collect()
    val clfPlan = clfDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val clfBroadcast = "BroadcastHashJoin \\[b".r.findFirstIn(clfPlan).isDefined
    val clfSmj = clfPlan.contains("SortMergeJoin")
    val clfDocExchanges = "Exchange hashpartitioning\\(doc_id".r
      .findAllIn(clfPlan).length
    // HLL registers: ONE exchange keyed (source, bucket) with a map-side
    // partial max; ≤ 2^p surviving rows per key however big the corpus;
    // split-sketch merge must EQUAL the whole-corpus sketch (the mergeable
    // -artifact contract); the range-corrected estimate must track the
    // exact per-source cardinality on real data
    val srcToks = docsWide.select(col("source"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("token"))
    val hllRegs = graft.llm.Sketches.hllRegisters(srcToks, Seq("source"), "token")
    val hllEx = hashExchanges(hllRegs)
    val hllRegRows = hllRegs.count()
    val hllSources = docsWide.select(col("source")).distinct().count()
    val hllMergeDiff = graft.llm.Sketches.hllMerge(
        graft.llm.Sketches.hllRegisters(
          srcToks.where(crc32(col("token")) % 2 === 0), Seq("source"), "token"),
        graft.llm.Sketches.hllRegisters(
          srcToks.where(crc32(col("token")) % 2 === 1), Seq("source"), "token"),
        Seq("source"))
      .unionByName(hllRegs).groupBy(col("source"), col("bucket"), col("m_rho"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    // per-source cardinalities here are far below m=256 (tens of distinct
    // tokens) — the raw estimator's known bias regime — so the accuracy
    // gate applies the driver-side linear-counting correction the sketch
    // documents for exactly this range
    // as-of join: the union+window plan must shuffle ONCE (the key
    // window) and contain NO join operator — the whole point vs a
    // per-row range join; checked on the real events table. QueryDef.table
    // owns the ts normalization (NANOS vs MICROS testdata generations) —
    // a raw parquet read here would fork that logic and break on the
    // NANOS generation.
    val evts = graft.queries.QueryDef.table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("event_type"))
    val asofDf = graft.streaming.EventStreams.asofJoin(
      evts.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      evts.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value").as("v")),
      Seq("user_id"), "ts", Seq("v"))
    asofDf.collect()
    val asofPlan = asofDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val asofEx = "Exchange hashpartitioning".r.findAllIn(asofPlan).length
    val asofJoins = "Join".r.findAllIn(asofPlan).length
    // BM25: the artifact scan must push the query-term filter, the
    // df/stats sides must come back as broadcasts (no sort-merge join),
    // and the top-k must be a TakeOrdered, never a global sort
    val bm25Df = graft.llm.TextAnalysis.bm25(
      graft.llm.TextAnalysis.termFrequencies(docs),
      Seq("hash", "spark", "window"))
    bm25Df.collect()
    val bm25Plan = bm25Df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bm25TakeOrdered = bm25Plan.contains("TakeOrderedAndProject")
    val bm25Smj = bm25Plan.contains("SortMergeJoin")
    // CMS registers: same build shape as HLL (one keyed exchange, ≤ d·w
    // rows per key); linear merge of split-halves must EQUAL the whole
    // sketch; point estimates must never under-count the exact frequency
    val cmsRegs = graft.llm.Sketches.cmsRegisters(srcToks, Seq("source"), "token")
    val cmsEx = hashExchanges(cmsRegs)
    val cmsRows = cmsRegs.count()
    val cmsMergeDiff = graft.llm.Sketches.cmsMerge(
        graft.llm.Sketches.cmsRegisters(
          srcToks.where(crc32(col("token")) % 2 === 0), Seq("source"), "token"),
        graft.llm.Sketches.cmsRegisters(
          srcToks.where(crc32(col("token")) % 2 === 1), Seq("source"), "token"),
        Seq("source"))
      .unionByName(cmsRegs).groupBy(col("source"), col("row"), col("col"), col("cnt"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    val cmsUnder = graft.llm.Sketches.cmsEstimate(cmsRegs,
        srcToks.distinct(), Seq("source"), "token")
      .join(srcToks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n_exact")), Seq("source", "token"))
      .where(col("cms_est") < col("n_exact")).count()
    // heavy hitters over the REAL corpus: the shard-candidate union must
    // contain every exact phi-heavy token (the pigeonhole guarantee under
    // an arbitrary 8-way sharding), stay artifact-small, and the
    // register-only decision must drop none of them
    // 0.03 sits just under the fixture vocabulary's uniform token share, so
    // the exact heavy set is NON-EMPTY at every sf — the no-false-negative
    // gates below actually bite instead of passing vacuously
    val hhPhi = 0.03
    val hhToks = docsWide.select(col("source"),
      (col("doc_id") % 8).as("shard"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("token"))
    val hhCand = graft.llm.Sketches.frequentCandidates(
      hhToks, Seq("source"), "token", "shard", hhPhi).cache()
    val hhCandRows = hhCand.count()
    val hhSources = docsWide.select("source").distinct().count()
    val hhExact = hhToks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      // the exact set uses the SAME exact-integer threshold as the
      // production predicate — a forked FP ceil here would blind the
      // missed==0 gate to the boundary case the predicate exists to keep
      .where(graft.llm.Sketches.atLeastPhiFraction(col("n"), col("tot"), hhPhi))
      .select("source", "token").cache()
    val hhExactRows = hhExact.count()
    val hhCandMissed = hhExact
      .join(hhCand, Seq("source", "token"), "left_anti").count()
    val hhDecided = graft.llm.Sketches.cmsHeavyHitters(
      cmsRegs, hhCand, Seq("source"), "token", hhPhi)
    val hhDroppedTrue = hhExact
      .join(hhDecided, Seq("source", "token"), "left_anti").count()
    // Bloom filter over the REAL corpus: every (source, token) that was
    // added must probe back true (zero false negatives — the filter's
    // contract), registers stay within min(k·n, m) per key, and the
    // split-halves union-merge equals the whole-build frame row-for-row
    val bloomBuild = srcToks.distinct().cache()
    val bloomRegs = graft.llm.Sketches.bloomRegisters(bloomBuild, Seq("source"), "token")
    val bloomRegRows = bloomRegs.count()
    val bloomFalseNeg = graft.llm.Sketches.bloomContains(
        bloomRegs, bloomBuild, Seq("source"), "token")
      .where(!col("maybe_present")).count()
    val bloomMergeDiff = graft.llm.Sketches.bloomMerge(
        graft.llm.Sketches.bloomRegisters(
          bloomBuild.where(crc32(col("token")) % 2 === 0), Seq("source"), "token"),
        graft.llm.Sketches.bloomRegisters(
          bloomBuild.where(crc32(col("token")) % 2 === 1), Seq("source"), "token"),
        Seq("source"))
      .unionByName(bloomRegs)
      .groupBy(col("source"), col("bit"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    // quantile sketch: same sketch discipline — one keyed exchange,
    // ≤ 64·s register rows per key, linear split-merge equals the whole
    // sketch, and the [lo, hi) bounds BRACKET the exact rank quantile for
    // every (source, q) — the relative-error guarantee verified on the
    // real corpus
    val srcLens = docsWide.select(col("source"),
      length(col("text")).cast("long").as("v"))
    val qRegs = graft.llm.Sketches.quantileRegisters(srcLens, Seq("source"), "v")
    val qEx = hashExchanges(qRegs)
    val qRows = qRegs.count()
    val qMergeDiff = graft.llm.Sketches.quantileMerge(
        graft.llm.Sketches.quantileRegisters(
          srcLens.where(crc32(col("v").cast("string")) % 2 === 0), Seq("source"), "v"),
        graft.llm.Sketches.quantileRegisters(
          srcLens.where(crc32(col("v").cast("string")) % 2 === 1), Seq("source"), "v"),
        Seq("source"))
      .unionByName(qRegs)
      .groupBy(col("source"), col("qb"), col("sub"), col("cnt"), col("sk_s"))
      .agg(count(lit(1)).as("n")).where(col("n") =!= 2).count()
    val qQs = Seq(0.5, 0.9, 0.99)
    val qEst = graft.llm.Sketches.quantileEstimate(qRegs, Seq("source"), qQs)
    // exact side via the distinct-value-counts discipline (the same pick
    // as a per-source row_number through duplicates, without ranking
    // payload rows in one task per source — the pattern the library
    // purged; mirrors LlmSketchQueries' q_quantile_sketch exact side)
    val wqSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val qCum = srcLens.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(
        wqSrc.orderBy(col("v")).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("nn", sum(col("_c")).over(wqSrc))
    val qPicks = qQs.map(q =>
      min(when(col("_cum") >= ceil(col("nn") * q), col("v")))
        .as(s"_e${(q * 100).round}"))
    val qExactWide = qCum.groupBy(col("source")).agg(qPicks.head, qPicks.tail: _*)
    val qExact = qQs.map(q => qExactWide.select(col("source"),
        lit(q).as("q"), col(s"_e${(q * 100).round}").as("exact_v")))
      .reduce(_ unionByName _)
    val qOutOfBounds = qEst.join(qExact, Seq("source", "q"))
      .where(col("exact_v") < col("q_lo") || col("exact_v") >= col("q_hi"))
      .count()
    val hllWorstErr = graft.llm.Sketches.hllEstimate(hllRegs, Seq("source"))
      .join(srcToks.groupBy("source")
        .agg(countDistinct(col("token")).as("n_exact")), "source")
      .select(col("hll_est"), col("buckets_hit"), col("n_exact"))
      .collect().map { r =>
        val corrected = graft.llm.Sketches.correctedEstimate(
          r.getDouble(0), r.getLong(1), p = 8)
        math.abs(corrected - r.getLong(2)) / r.getLong(2).toDouble
      }.max

    // ---- (k) corpus governance: diff joins hashes only; drift stays
    // vocab-sized with broadcast totals and a distributed top-k ----
    // the diff's full-outer join must carry (id, hash) projections ONLY —
    // the text payload never crossing the exchange is what makes a corpus
    // diff affordable at 100 TB; the drift's global ordering must plan as
    // TakeOrdered (never a single-partition sort of the vocabulary)
    val govB = docs.where(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val govDiff = Dedup.corpusDiff(docs, govB)
    val diffJoinsHashOnly = govDiff.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.forall(j => Seq(j.left, j.right)
      .forall(s => !s.output.map(_.name).contains("text")))
    val diffCounts = govDiff.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val govDrift = graft.llm.TextAnalysis.corpusDrift(
      docs.select("text"), govB.select("text"), k = 50)
    val driftPlan = govDrift.queryExecution.executedPlan.toString
    val driftTakeOrdered = driftPlan.contains("TakeOrderedAndProject")
    val driftCross = driftPlan.contains("CartesianProduct")
    val driftRows = govDrift.count()

    println(
      s"""{"assign_hash_exchanges":$cellsEx,"bucket_hash_exchanges":$bucketsEx,""" +
        s""""pq_encode_hash_exchanges":$encodeEx,"ivfpq_encode_hash_exchanges":$ivfPqEncodeEx,""" +
        s""""adc_scans_payload":$adcReadsPayload,""" +
        s""""adc_candidate_scan":"${candidateScan.replace("\"", "")}",""" +
        s""""ivfpq_scans_payload":$ivfPqReadsPayload,""" +
        s""""ivfpq_candidate_scan":"${ivfPqScan.replace("\"", "")}",""" +
        s""""decontam_broadcast":$decontamBroadcast,"decontam_shuffle_joins":$decontamShuffleJoins,""" +
        s""""bloom_decontam_shuffle_joins":$preShuffleJoins,"bloom_decontam_equals_exact":$preEqualsExact,""" +
        s""""adc_recall_at_10":$recall,"adc_recall_at_10_trained":$trainedRecall,""" +
        s""""int8_recall_at_10":$sqRecall,"int8_shuffle_joins":$sqShuffleJoins,""" +
        s""""int8_take_ordered":$sqTakeOrdered,""" +
        s""""ivfpq_m":$pqM,"ivfpq_recall_at_10":$ivfPqRecall,"ivf_nprobe_ceiling":$ivfCeiling,""" +
        s""""ivfpq_trained_coarse_recall":$trainedPipeRecall,""" +
        s""""ivfpq_trained_coarse_ceiling":$trainedCeiling,""" +
        s""""ivfpq_trained_rerank_recall":$rerankRecall,""" +
        s""""ivfpq_index_files_full":$idxFilesFull,"ivfpq_index_files_probed":$idxFilesProbed,""" +
        s""""lsh_pairs_1x":$pairs1,"lsh_pairs_2x":$pairs2,""" +
        s""""split_exchanges":$splitEx,"split_pairs_total":$splitPairsTotal,""" +
        s""""split_leak_pairs":$splitLeakPairs,"split_quarantined":$splitQuarantined,""" +
        s""""split_residual_leaks":$splitResidual,""" +
        s""""dhash_exchanges":$dhashEx,"dhash_cross_product":$imgCross,""" +
        s""""dhash_pairs_banded":$imgPairCount,"dhash_pairs_brute":$imgBrute,""" +
        s""""dhash_candidates":$imgCandidates,"dhash_all_pairs":$imgAllPairs,""" +
        s""""dhash_scaled_band_bits":$bbScaled,"dhash_scaled_candidates":$imgScaledCandidates,""" +
        s""""dhash_scaled_pairs":$imgScaledPairs,"dhash_scaled_brute":$imgScaledBrute,""" +
        s""""inc_candidates":$incCount,"inc_cross_pairs_full":$crossFromFull,""" +
        s""""span_dup_windows_1x":$spanDup1,"span_dup_windows_2x":$spanDup2,""" +
        s""""span_dup_windows_docs":$spanDupDocs,"span_covered_positions":$spanCovered,""" +
        s""""surprisal_corpus_scans":$surprisalScans,"shard_exchanges":${shardExchanges.length},""" +
        s""""chunk_exchanges":$chunkEx,"balance_exchanges":${balExchanges.length},""" +
        s""""semdedup_cross_product":$semCross,"semdedup_pairs":$semPairs,""" +
        s""""semdedup_groups":$semGroups,"semdedup_kept":$semKept,""" +
        s""""dsir_corpus_scans":$dsirScans,"dsir_model_broadcast":$dsirModelBroadcast,""" +
        s""""temp_mix_broadcast_totals":$tempBnlj,""" +
        s""""novelty_gram_join":$novGramJoin,"novelty_total":$novTotal,""" +
        s""""novelty_distinct_grams":$novDistinct,""" +
        s""""incsem_pairs":$incSem,"incsem_cross_pairs_full":$crossSem,""" +
        s""""clf_model_broadcast":$clfBroadcast,"clf_doc_exchanges":$clfDocExchanges,""" +
        s""""hll_register_exchanges":$hllEx,"hll_register_rows":$hllRegRows,""" +
        s""""hll_merge_mismatch_rows":$hllMergeDiff,"hll_worst_rel_err":$hllWorstErr,""" +
        s""""cms_register_exchanges":$cmsEx,"cms_register_rows":$cmsRows,""" +
        s""""cms_merge_mismatch_rows":$cmsMergeDiff,"cms_undercounts":$cmsUnder,""" +
        s""""hh_candidate_rows":$hhCandRows,"hh_exact_rows":$hhExactRows,""" +
        s""""hh_candidates_missed":$hhCandMissed,"hh_dropped_true":$hhDroppedTrue,""" +
        s""""bloom_register_rows":$bloomRegRows,"bloom_false_negatives":$bloomFalseNeg,""" +
        s""""bloom_merge_mismatch_rows":$bloomMergeDiff,""" +
        s""""quantile_register_exchanges":$qEx,"quantile_register_rows":$qRows,""" +
        s""""quantile_merge_mismatch_rows":$qMergeDiff,"quantile_out_of_bounds":$qOutOfBounds,""" +
        s""""asof_exchanges":$asofEx,"asof_join_operators":$asofJoins,""" +
        s""""bm25_take_ordered":$bm25TakeOrdered,""" +
        s""""diff_joins_hash_only":$diffJoinsHashOnly,""" +
        s""""diff_added":${diffCounts.getOrElse("added", 0L)},""" +
        s""""diff_removed":${diffCounts.getOrElse("removed", 0L)},""" +
        s""""diff_changed":${diffCounts.getOrElse("changed", 0L)},""" +
        s""""diff_unchanged":${diffCounts.getOrElse("unchanged", 0L)},""" +
        s""""drift_take_ordered":$driftTakeOrdered,"drift_rows":$driftRows,""" +
        s""""recall_curve":$recallCurveJson}""")

    require(diffJoinsHashOnly, "corpusDiff: the text payload crossed a join input")
    require(Seq("added", "removed", "changed", "unchanged")
      .forall(s => diffCounts.getOrElse(s, 0L) > 0L),
      s"corpusDiff rehearsal degenerate — a status class is empty: $diffCounts")
    // rows = min(k, |vocab|): the synthetic corpus vocabulary can be
    // smaller than k at small scales
    require(driftTakeOrdered && !driftCross && driftRows > 0L && driftRows <= 50L,
      s"corpusDrift: takeOrdered=$driftTakeOrdered cross=$driftCross rows=$driftRows")

    require(cellsEx == 0 && bucketsEx == 0 && encodeEx == 0 && ivfPqEncodeEx == 0,
      s"assignment/encode must be map-only: $cellsEx/$bucketsEx/$encodeEx/$ivfPqEncodeEx")
    require(!adcReadsPayload, s"ADC candidate scan must read only code columns: $candidateScan")
    require(!ivfPqReadsPayload,
      s"IVF-PQ candidate scan must read only cell+code columns: $ivfPqScan")
    require(decontamBroadcast && decontamShuffleJoins == 0,
      s"decontam must broadcast-probe, not shuffle-join: $decontamShuffleJoins")
    require(preShuffleJoins == 0,
      s"bloom-prefiltered decontam must not shuffle-join: $preShuffleJoins")
    require(preEqualsExact,
      "bloom-prefiltered decontam diverged from the exact form (false negative?)")
    require(pairs2 <= 3 * pairs1 && pairs2 >= pairs1,
      s"LSH pair growth not linear: $pairs1 -> $pairs2")
    require(splitEx == 0,
      s"split label assignment must be a pure map: $splitEx exchanges")
    require(splitLeakPairs > 0 && splitLeakPairs <= splitPairsTotal,
      s"split-leakage audit degenerate: $splitLeakPairs straddling of " +
        s"$splitPairsTotal candidate pairs")
    require(leakGenerates <= 0,
      s"split-leakage audit re-shingled the corpus: $leakGenerates Generate " +
        "nodes beyond the pair artifact's own cached lineage")
    require(splitQuarantined > 0 && splitQuarantined <= splitLeakPairs,
      s"quarantine count out of range: $splitQuarantined for " +
        s"$splitLeakPairs straddling pairs (exactly one val side each)")
    require(splitResidual == 0,
      s"quarantine failed to close in one pass: $splitResidual residual " +
        "straddling pairs over the surviving train/val labels")
    require(dhashEx == 0, s"dHash fingerprint must be map-only: $dhashEx exchanges")
    require(!imgCross, s"banded Hamming retrieval must not cross-product:\n$imgPlan")
    require(imgPairCount == imgBrute,
      s"banded retrieval must be lossless: $imgPairCount banded vs $imgBrute brute")
    // the derived parameters must make banding WORTH IT: the candidate
    // stream strictly beats the all-pairs scan (the demo-default 4-bit/
    // radius-13 run above is recorded as the honest dense counterexample),
    // and retrieval at those parameters stays lossless
    require(imgScaledCandidates < imgAllPairs,
      s"scale-aware banding must beat all-pairs: $imgScaledCandidates " +
        s"candidates vs $imgAllPairs pairs (bandBits=$bbScaled)")
    require(imgScaledPairs == imgScaledBrute,
      s"scale-aware banded retrieval must be lossless: $imgScaledPairs vs " +
        s"$imgScaledBrute brute (radius 6, bandBits=$bbScaled)")
    require(incCount == crossFromFull,
      s"incremental candidates must equal the cross-set restriction of the " +
        s"full pairing: $incCount vs $crossFromFull")
    require(spanDup2 == 2 * spanDup1,
      s"span-dedup duplicated windows must double exactly on a salted 2x " +
        s"corpus: $spanDup1 -> $spanDup2")
    require(spanCovered <= 5 * spanDupDocs,
      s"covered positions must be bounded by n x duplicated windows: " +
        s"$spanCovered > 5*$spanDupDocs")
    // hard floor is the DEGENERATE case (random ≈ 0.02, one 0.1 step above);
    // the measured value — 0.2 fixed / 0.4 trained on the sf0.01 fixture —
    // is recorded in SCALE.md, not pinned here: recall moves in 0.1 steps,
    // so a zero-margin gate would fail on any benign single-neighbor drift.
    // On bigger corpora the deliberately-tiny 4-codeword wiring probe is
    // legitimately ~0 (4 codewords vs thousands of candidates) — reported,
    // not gated.
    if (!big)
      require(recall >= 0.1, s"ADC recall@10 degenerate: $recall (random ≈ 0.02)")
    require(trainedRecall >= recall,
      s"trained codebook must not lose to the fixed one: $trainedRecall < $recall")
    // int8 per-dim calibration keeps 255 levels per dimension — measured
    // 1.0 on the sf0.01 fixture (n=500); floor one step under, far above
    // random ≈ 0.02 (which is exactly where the un-centered affine-shifted
    // dot landed before the zero-point fix)
    require(sqRecall >= 0.9,
      s"int8 compressed-domain recall@10 degenerate: $sqRecall (random ≈ 0.02)")
    require(sqShuffleJoins == 0 && sqTakeOrdered,
      s"int8 scan must broadcast + heap-topk: joins=$sqShuffleJoins takeOrdered=$sqTakeOrdered")
    // the composed index is the production ANN story: the size-scaled code
    // budget must hold its measured floor (0.7 at n=500 with m=4; 0.5 at
    // n=2000 with m=8 — gates one step under)
    require(ivfPqRecall >= ivfPqFloor,
      s"IVF-PQ trained recall@10 below floor: $ivfPqRecall < $ivfPqFloor (ceiling $ivfCeiling, m=$pqM)")
    // nprobe of the 4 cells probed → the scan must open strictly fewer
    // files than the full index (exactly the probed partitions')
    require(idxFilesProbed < idxFilesFull && idxFilesProbed > 0,
      s"cell-partitioned probe must prune files: $idxFilesProbed vs $idxFilesFull")
    // end-to-end trained pipeline at the fixed path's scan fraction:
    // measured 0.5 (n=500) / 0.3 (n=2000) with coverage ceiling 1.0 at
    // BOTH — every true neighbor is inside the probed cells, so the gap
    // vs the fixed-coarse path is cross-cell ADC comparability (each
    // probed cell re-anchors the query residual, and with 6 probed cells
    // the per-cell error floors mix more than with 3). The floor sits one
    // step under measured, far above random ≈ 0.02.
    require(trainedPipeRecall >= ivfPqFloor - 0.2,
      s"trained-coarse IVF-PQ recall@10 below floor: $trainedPipeRecall " +
        s"(ceiling $trainedCeiling, floor ${ivfPqFloor - 0.2})")
    // the two-stage refinement must actually remove the cross-cell drift:
    // measured 0.9 (n=500) / 0.6 (n=2000) vs 0.5/0.3 unrefined — floors
    // one step under, and never below the unrefined pipeline
    val rerankFloor = if (big) 0.5 else 0.8
    require(rerankRecall >= rerankFloor && rerankRecall >= trainedPipeRecall,
      s"re-ranked recall@10 below floor: $rerankRecall (floor $rerankFloor, " +
        s"unrefined $trainedPipeRecall)")
    // the curve's c-direction is theorem-backed (superset shortlist +
    // exact re-rank), gated at every probed nprobe; the curve's best
    // point must reach the operating floor — both recorded in SCALE.md
    recallCurve.groupBy(_._1).foreach { case (np, pts) =>
      val r20 = pts.find(_._2 == 20).get._3
      val r50 = pts.find(_._2 == 50).get._3
      require(r50 >= r20,
        s"recall must be monotone in shortlist size: nprobe=$np c=20 -> " +
          s"$r20 but c=50 -> $r50")
    }
    require(recallCurve.map(_._3).max >= rerankFloor,
      s"no curve operating point reaches the floor $rerankFloor: $recallCurveJson")
    // the DOCUMENTED DEFAULTS of the composed search/re-rank entry points
    // (Similarity.defaultNprobe/defaultRerankWidth/cheapRerankWidth:
    // quarter-cell probe, c = 5k balanced / 2k cheap) must stay pinned to
    // the gated curve rows AND hold their measured floors at both scales
    // (balanced 0.9/0.6, cheap 0.7/0.3 — gates one 0.1-step under)
    require(Similarity.defaultNprobe(8) == 2 &&
      Similarity.defaultRerankWidth(10) == 50 &&
      Similarity.cheapRerankWidth(10) == 20,
      "default operating points drifted from the gated curve rows")
    val defBalanced = recallCurve.find(p => p._1 == 2 && p._2 == 50).get._3
    val defCheap = recallCurve.find(p => p._1 == 2 && p._2 == 20).get._3
    require(defBalanced >= (if (big) 0.5 else 0.8),
      s"balanced default (nprobe=2, c=5k) below floor: $defBalanced")
    require(defCheap >= (if (big) 0.2 else 0.6),
      s"cheap default (nprobe=2, c=2k) below floor: $defCheap")
    require(surprisalScans == 1 && !surprisalSmj,
      s"bigram surprisal must scan the corpus once with broadcast model " +
        s"joins: $surprisalScans scans, smj=$surprisalSmj\n$surprisalPlan")
    // post-r13-decomposition shape: every exchange keys on the shard/group
    // FIRST (payload ranks within (key, _sub) sub-shards; the tiny counts
    // frame windows per key for prefix offsets) — nothing exchanges on the
    // doc id, the full hash, or an unkeyed singleton
    require(shardExchanges.nonEmpty &&
      shardExchanges.forall(_.contains("hashpartitioning(shard")) &&
      shardExchanges.exists(_.contains("_sub")),
      s"shard assignment must shuffle keyed by (shard[, _sub]): $shardExchanges")
    require(chunkEx == 0, s"chunking must be a pure map: $chunkEx exchanges")
    require(balExchanges.nonEmpty &&
      balExchanges.forall(_.contains("hashpartitioning(_g")) &&
      balExchanges.exists(_.contains("_sub")),
      s"balanced sample must shuffle keyed by (group struct[, _sub]): $balExchanges")
    require(!semCross, "SemDeDup pair join must be an equi-join on the cell")
    require(semKept == semGroups,
      s"SemDeDup must keep exactly one member per group: $semKept kept vs $semGroups groups")
    require(semPairs > 0, "SemDeDup fixture degenerate: zero semantic pairs")
    require(dsirScans == 1 && dsirModelBroadcast && !dsirSmj,
      s"DSIR must scan the corpus once with broadcast model joins: " +
        s"$dsirScans scans, broadcast=$dsirModelBroadcast, smj=$dsirSmj")
    require(tempBnlj && !tempSmj,
      s"temperature mix totals must broadcast back: bnlj=$tempBnlj, smj=$tempSmj")
    require(!novGramJoin, "novelty must never join on the gram")
    require(novTotal == novDistinct,
      s"novelty must conserve: sum(n_novel)=$novTotal vs $novDistinct distinct grams")
    require(incSem == crossSem,
      s"incremental semantic candidates must equal the batch×index " +
        s"restriction of the full pairing: $incSem vs $crossSem")
    require(clfBroadcast && !clfSmj && clfDocExchanges == 1,
      s"classifier inference must broadcast the model onto the token " +
        s"stream and shuffle the corpus once: broadcast=$clfBroadcast, " +
        s"smj=$clfSmj, docExchanges=$clfDocExchanges\n$clfPlan")
    require(hllEx == 1, s"HLL register build must shuffle once: $hllEx")
    require(hllRegRows <= 256L * hllSources,
      s"HLL registers unbounded: $hllRegRows rows for $hllSources sources")
    require(hllMergeDiff == 0,
      s"split-sketch merge diverged from the whole-corpus sketch: " +
        s"$hllMergeDiff mismatched register rows")
    require(hllWorstErr < 0.15,
      s"corrected HLL estimate off by >15% on real data: $hllWorstErr")
    require(cmsEx == 1, s"CMS register build must shuffle once: $cmsEx")
    require(cmsRows <= 4L * 64 * hllSources,
      s"CMS registers unbounded: $cmsRows rows for $hllSources sources")
    require(cmsMergeDiff == 0,
      s"CMS split-sketch merge diverged from the whole-corpus sketch: " +
        s"$cmsMergeDiff mismatched register rows")
    require(cmsUnder == 0,
      s"CMS under-counted $cmsUnder (source, token) frequencies — " +
        "impossible for a correct Count-Min")
    require(hhCandMissed == 0,
      s"heavy-hitter candidate union missed $hhCandMissed exact phi-heavy " +
        "tokens — the pigeonhole guarantee is broken")
    require(hhDroppedTrue == 0,
      s"register-only heavy-hitter decision dropped $hhDroppedTrue true " +
        "hitters — CMS must never under-count past the threshold")
    require(hhCandRows <= hhSources * 8 * math.ceil(1 / hhPhi).toLong,
      s"heavy-hitter candidate artifact unbounded: $hhCandRows rows " +
        s"for $hhSources sources x 8 shards at phi=$hhPhi")
    require(bloomFalseNeg == 0,
      s"Bloom filter produced $bloomFalseNeg false negatives — " +
        "impossible for a correct filter")
    require(bloomRegRows <= math.min(4L * bloomBuild.count(), (1L << 16) * hhSources),
      s"Bloom registers unbounded: $bloomRegRows rows")
    require(bloomMergeDiff == 0,
      s"Bloom split-build union-merge diverged from the whole build: " +
        s"$bloomMergeDiff mismatched register rows")
    require(qEx == 1, s"quantile register build must shuffle once: $qEx")
    require(qRows <= 64L * 16 * hllSources,
      s"quantile registers unbounded: $qRows rows for $hllSources sources")
    require(qMergeDiff == 0,
      s"quantile split-sketch merge diverged from the whole-corpus sketch: " +
        s"$qMergeDiff mismatched register rows")
    require(qOutOfBounds == 0,
      s"quantile bounds failed to bracket $qOutOfBounds exact rank values — " +
        "the DDSketch relative-error guarantee must hold exactly")
    require(asofEx == 1 && asofJoins == 0,
      s"as-of must be one window shuffle with no join operator: " +
        s"$asofEx exchanges, $asofJoins joins\n$asofPlan")
    require(bm25TakeOrdered && !bm25Smj,
      s"BM25 top-k must be a TakeOrdered with broadcast stats: " +
        s"takeOrdered=$bm25TakeOrdered, smj=$bm25Smj\n$bm25Plan")
    spark.stop()
  }
}
