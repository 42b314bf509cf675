package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication for large text corpora — exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Every operator is a groupBy/join on a DERIVED KEY (content hash, band
  * signature, LSH bucket): no operator ever compares all pairs directly.
  * For the content/shingle/bucket families the key space grows with the
  * corpus, so candidate generation stays ~linear in the number of true
  * near-duplicates; fixed-width-hash banding ([[bandedHammingPairs]]) is
  * the exception — its candidate stream is a TUNABLE FRACTION of C(n,2)
  * set by bandBits (see its scaladoc for the exact arithmetic and the
  * lossless-radius tradeoff). Hash functions are md5-derived so a SQL
  * oracle can mirror them exactly. */
object Dedup {

  /** CORPUS SNAPSHOT DIFF — release governance: per doc id, whether it
    * was `added`, `removed`, `changed`, or `unchanged` between snapshot
    * `a` and snapshot `b` (the datasheet delta between two corpus
    * versions; compose with the index's `asOfVersion` time travel to
    * diff retained snapshots in place). Only (id, content-hash)
    * projections join — one id-keyed full-outer join, the text payload
    * never moves. */
  def corpusDiff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    a.select(col(idCol), md5(col(textCol)).as("_ha"))
      .join(b.select(col(idCol), md5(col(textCol)).as("_hb")), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_ha").isNull, "added")
          .when(col("_hb").isNull, "removed")
          .when(col("_ha") =!= col("_hb"), "changed")
          .otherwise("unchanged").as("status"))

  /** Exact dedup: one shuffle on md5(text). Survivor = min id. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Survivor selection as a window: rank duplicates within each content
    * group, keep rank 1 — the shape to use when the full rows (not just ids)
    * must be kept, in one pass without a self-join. */
  def survivors(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("dup_rank", row_number().over(w)).where(col("dup_rank") === 1).drop("dup_rank")
  }

  /** C4/MassiveText-style text normalization: lowercase, strip every
    * non-alphanumeric to a space, squash runs of spaces, trim. Catches the
    * "same text, different punctuation/casing/whitespace" duplicates that
    * raw-byte hashing misses (mirror sites, re-rendered HTML, smart quotes)
    * while staying a pure codegen'd per-row expression. ASCII-targeted by
    * design — `[^a-z0-9 ]` drops non-Latin characters entirely, so this is
    * the ENGLISH-corpus normalizer (per-language corpora swap the class). */
  def normalized(textCol: Column): Column =
    trim(regexp_replace(regexp_replace(lower(textCol), "[^a-z0-9 ]", " "), " +", " "))

  /** Exact dedup on the NORMALIZED text ([[normalized]]): same one-shuffle
    * shape as [[exact]], plus `n_raw_variants` — how many distinct raw byte
    * forms collapsed into this group (>1 = caught something raw dedup
    * cannot; the audit column for choosing between the two passes). */
  def normalizedExact(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(normalized(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(col(textCol))).as("n_raw_variants"))

  /** Distinct character n-gram shingle set per document — THE shared
    * artifact of the shingle-based family: MinHash signatures and n-gram
    * Jaccard both derive from it, so a deployment computes (and persists)
    * the corpus shingle set once instead of re-exploding the corpus per
    * query. MinHash over the distinct set equals MinHash over the positional
    * multiset (min is duplicate-insensitive). */
  def charGrams(docs: DataFrame, n: Int = 8,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
        col(idCol),
        explode(sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1)))).as("i"),
        col(textCol))
      .select(col(idCol), col(textCol).substr(col("i"), lit(n)).as("gram"))
      .distinct()

  /** Distinct token set per document — shared artifact of the token-based
    * family (token Jaccard, SimHash variants). */
  def docTokens(docs: DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("token")).distinct()

  /** MinHash signatures from a precomputed shingle-set frame: ONE md5 per
    * shingle, `numHashes` (≤4) hash functions carved from its disjoint
    * 8-hex-char substrings, mins folded in a single groupBy pass. 4× less
    * hashing and 4× fewer shuffle rows than the per-seed-explode shape.
    * Output: (id, mh0..mh{numHashes-1}). */
  def minhashFromGrams(grams: DataFrame, numHashes: Int = 4,
                       idCol: String = "doc_id"): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4, "md5 yields 4 disjoint 8-hex-char hashes")
    val hashed = grams.select(col(idCol), md5(col("gram")).as("h"))
    val mins = (0 until numHashes).map(j =>
      min(substring(col("h"), j * 8 + 1, 8)).as(s"mh$j"))
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Convenience: shingle + sign in one call (prefer sharing `charGrams`
    * across the query family and calling `minhashFromGrams`). */
  def minhashSignatures(docs: DataFrame, shingle: Int = 8, numHashes: Int = 4,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashFromGrams(charGrams(docs, shingle, idCol, textCol), numHashes, idCol)

  /** Banded view of a wide signature frame: one row per (id, band, key),
    * the band key being `rowsPerBand` signature columns concatenated. The
    * ONE band-key derivation shared by the self-join pairing
    * ([[lshCandidatePairs]]) and the cross-set incremental pairing
    * ([[crossSetCandidates]]) — the incremental==full-restriction
    * exactness gate depends on both computing the identical key, so the
    * derivation must not fork. */
  private def bandedSignatures(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                               idCol: String): DataFrame = (0 until bands).map { b =>
    val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
    sigs.select(col(idCol), lit(b).as("band"), concat(cols: _*).as("sig"))
  }.reduce(_ unionByName _)

  /** LSH banding over a wide signature: ids agreeing on a whole band are
    * candidate pairs. `rowsPerBand` signature columns concatenate into one
    * band key; the pair join is on (band, key). */
  def lshCandidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                        idCol: String = "doc_id"): DataFrame = {
    val banded = bandedSignatures(sigs, bands, rowsPerBand, idCol)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** Per-doc element-set ARRAYS from an (id, elem) frame — the verification
    * artifact of the Jaccard family: one groupBy collapses the exploded
    * elements into a set array per doc, and every pairwise intersection
    * afterwards is a codegen'd `array_intersect`, never a row-exploding
    * join. Callers cache/persist this. */
  def elementSets(elems: DataFrame, elemCol: String,
                  idCol: String = "doc_id"): DataFrame =
    elems.groupBy(col(idCol)).agg(collect_set(col(elemCol)).as("elems"))

  /** Set Jaccard on candidate pairs from a precomputed element-set-array
    * frame (`elementSets`): |A∩B| plus set sizes as exact ints; the ratio is
    * downstream arithmetic. Two equi-joins on the pair ids bring the two set
    * arrays side by side and `array_intersect` counts in one codegen pass —
    * the work is O(|pairs| · set-size), with NO (pair × element) intermediate
    * rows (the round-1 shape exploded to millions of rows for thousands of
    * pairs). Post-LSH the pair side is ~linear in true near-dups, so both
    * joins shuffle only candidate-sized data at 100 TB. */
  def setJaccardOnPairs(sets: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id"): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("doc_a"), col("elems").as("ea")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("elems").as("eb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ea"), col("eb"))).cast("long").as("n_common"),
        size(col("ea")).cast("long").as("size_a"),
        size(col("eb")).cast("long").as("size_b"))

  /** Token-set Jaccard evaluated ONLY on candidate pairs (post-LSH). */
  def jaccardOnCandidates(docs: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    setJaccardOnPairs(elementSets(docTokens(docs, idCol, textCol), "token", idCol), pairs, idCol)

  /** Character-n-gram Jaccard on candidate pairs (shingle sets instead of
    * token sets — robust to word-boundary edits). */
  def ngramJaccardOnCandidates(docs: DataFrame, pairs: DataFrame, n: Int = 8,
                               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    setJaccardOnPairs(elementSets(charGrams(docs, n, idCol, textCol), "gram", idCol), pairs, idCol)

  /** SimHash fingerprint (`bits` ≤ 32, md5-nibble hash family): per-bit
    * majority vote over token hashes. Near-dups then differ in few bits —
    * compare with `bit_count(a ^ b)` on bucketed candidates. */
  def simhash(docs: DataFrame, bits: Int = 16,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perBit = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .select(col(idCol), md5(col("token")).as("h")) // digest once, before the bit explode
      .select(col(idCol), col("h"), explode(sequence(lit(1), lit(bits))).as("b"))
      .groupBy(col(idCol), col("b"))
      .agg(sum(when(col("h").substr(col("b"), lit(1)) >= "8", 1).otherwise(-1)).as("s"))
    perBit.groupBy(col(idCol))
      .agg(sum(when(col("s") > 0, pow(lit(2.0), col("b") - 1).cast("long")).otherwise(0L))
        .cast("long").as("simhash"))
  }

  /** Embedding-cosine near-dup pairs: bucket by random-hyperplane signature
    * (only vectors sharing a bucket are compared — candidate generation is
    * the LSH join, not a cross product), then keep pairs with cosine ≥ τ.
    * Norms are computed ONCE per vector before the pair join (n norms
    * instead of 2·|pairs| recomputations); cos = dot/(nₐ·n_b) is the same
    * expression tree, so scores stay bit-identical to the two-sided form. */
  /** The persisted LSH index artifact for embedding near-dup: every vector
    * with its hyperplane bucket and precomputed norm. Callers cache/persist
    * this (it feeds both sides of the pair join). */
  def embeddingBuckets(embeddings: DataFrame, planes: DataFrame): DataFrame =
    Similarity.hyperplaneBucket(embeddings, planes)
      .join(embeddings, "vec_id")
      .withColumn("nrm", Similarity.norm(col("embedding")))

  /** Convenience one-shot form; the bucket frame is built inline and read
    * twice by the pair join (prefer building `embeddingBuckets` once,
    * persisting it, and calling `nearDupsFromBuckets` — caching here would
    * pin memory with no handle to unpersist). */
  def embeddingNearDups(embeddings: DataFrame, planes: DataFrame, threshold: Double): DataFrame =
    nearDupsFromBuckets(embeddingBuckets(embeddings, planes), threshold)

  /** Pairwise cosine ONLY within a bucket, from a prebuilt bucket index. */
  def nearDupsFromBuckets(bucketed: DataFrame, threshold: Double): DataFrame = {
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** SemDeDup candidate PAIRS (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv:2303.09540
    * §2): within each coarse embedding cluster (the IVF `cell` assignment —
    * [[Similarity.assignCells]], the same artifact the ANN index persists),
    * every same-cell pair with cosine ≥ `threshold` is a SEMANTIC duplicate —
    * paraphrases and re-renderings that exact/MinHash dedup cannot see.
    * Candidate generation IS the clustering: only same-cell pairs are ever
    * scored, never a corpus cross product.
    *
    * Scale shape: the pair join is ONE equi-join on `cell`; with the
    * assignment persisted partitioned by cell, both sides prune to the cell
    * being processed. The paper sizes k so per-cell populations stay bounded
    * (k ≈ n/cellSize; 50k clusters for LAION) — per-cell pairwise work is
    * then O(cellSize²) independent of corpus size, and a skewed hot cell
    * splits under AQE like any skewed equi-join key. Norms are computed once
    * per row before the join (n folds, not 2·|pairs|); cos = dot/(nₐ·n_b) is
    * the proven-bit-identical expression tree shared with
    * [[nearDupsFromBuckets]], so scores hash-match DuckDB exactly. */
  def semanticPairs(assigned: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withNorm = assigned.select(col(idCol), col("cell"), col(vecCol))
      .withColumn("nrm", Similarity.norm(col(vecCol)))
    withNorm.as("a").join(withNorm.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        (Similarity.dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** SemDeDup DECISION from a prebuilt duplicate-group map: per semantic
    * group keep exactly ONE member — the one LEAST similar to its cell
    * centroid (the paper's §2 keep-low-centroid-similarity rule: prune the
    * redundant cluster core, keep the most atypical example; ties break on
    * vec_id). Vectors in no pair are singleton groups and always survive.
    *
    * `clusters` is [[duplicateClusters]] over [[semanticPairs]] — the
    * persisted group map (group ids are min member ids, so they stay within
    * the cell the pairs came from). Centroid similarity is a map-only
    * broadcast shape (the [[Similarity.assignCells]] pattern): the centroid
    * set collapses into ONE broadcast row, each row reads its own cell's
    * entry — the embedding payload never shuffles for scoring; the only
    * exchanges are the (vec_id, cluster_id) join and the per-group window,
    * both id-keyed. Output: (vec_id, cell, cluster_id, cent_sim,
    * keep ∈ {0,1}). */
  def semDeDupFromClusters(assigned: DataFrame, centroids: DataFrame,
                           clusters: DataFrame): DataFrame = {
    val centRow = broadcast(centroids
      .agg(collect_list(struct(col("centroid_id"), col("centroid").as("ce"))).as("cents")))
    val centSim = assigned.crossJoin(centRow)
      .select(col("vec_id"), col("cell"),
        Similarity.cosine(col("embedding"),
          element_at(filter(col("cents"),
            c => c.getField("centroid_id") === col("cell")), 1).getField("ce"))
          .as("cent_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("cent_sim"), col("vec_id"))
    centSim.join(clusters.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
  }

  /** One-shot SemDeDup: pairs → connected groups → keep decision. Prefer
    * building [[semanticPairs]] + [[duplicateClusters]] once, persisting the
    * group map, and calling [[semDeDupFromClusters]] — the group build is the
    * iterative ingest-side job, the decision is one join + one window. */
  def semDeDup(assigned: DataFrame, centroids: DataFrame, threshold: Double): DataFrame =
    semDeDupFromClusters(assigned, centroids,
      duplicateClusters(semanticPairs(assigned, threshold)))

  /** SimHash candidate retrieval: band the 16-bit fingerprint into its four
    * nibbles; docs agreeing on ANY band are candidates. Pigeonhole
    * guarantee: a pair within Hamming distance 3 flips bits in at most 3 of
    * the 4 bands, so at least one band matches exactly — retrieval is
    * LOSSLESS for maxHamming ≤ 3. Band equi-joins, then a codegen'd
    * popcount verifies bit_count(xor) ≤ maxHamming — never O(n²). */
  def simhashPairs(sims: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "4-band retrieval is lossless only for hamming ≤ 3")
    bandedHammingPairs(sims, bits = 16, bandBits = 4, maxHamming, idCol, "simhash")
      .withColumnRenamed("hash_a", "sim_a")
      .withColumnRenamed("hash_b", "sim_b")
  }

  /** Generalized banded Hamming-ball retrieval over ANY packed bit
    * fingerprint column (simhash, dHash, …): band the `bits`-bit hash into
    * `bits / bandBits` equal slices; rows agreeing on ANY slice are
    * candidates. Pigeonhole: a pair within Hamming distance `maxHamming`
    * flips bits in at most `maxHamming` bands, so with `maxHamming <
    * numBands` at least one band matches exactly — retrieval is LOSSLESS.
    * ONE equi-join on the exploded (band, slice) key — identical result to
    * per-band self-joins unioned (a pair matching on any band appears;
    * distinct dedups multi-band agreement), but the plan has a single join
    * + one distinct instead of numBands joins + union; the popcount verify
    * runs in the join stream, so the one exchange carries only survivors.
    *
    * BE HONEST ABOUT THE CANDIDATE VOLUME: banding over a fixed-width hash
    * is a constant-FRACTION prefilter, not an asymptotic class change —
    * expected candidates ≈ C(n,2) · numBands / 2^bandBits on hash-random
    * data. The fraction is the scale knob: bandBits must grow with
    * log₂(n) for the candidate stream to stay near-linear (bucket size
    * n/2^bandBits ⇒ pairs per band n²/2^(bandBits+1)), and pigeonhole
    * losslessness (maxHamming < numBands = bits/bandBits) caps how wide
    * bands can get for a given radius — a 56-bit hash supports radius 13
    * only with 4-bit bands (fraction 14/16 ≈ dense), radius ≤ 6 with
    * 8-bit bands (fraction 7/256 ≈ 2.7%). At corpus scale DERIVE bandBits
    * with [[bandBitsFor]], which picks the widest lossless banding and
    * fails loudly when the (radius, hash width, n) combination cannot
    * beat brute force — never copy a fixture's bandBits into production.
    * The rehearsal GATES candidates < all-pairs at the derived
    * parameters and RECORDS the measured fraction at the dense demo
    * radius. The tiny test fixtures run bandBits = 4 explicitly to keep
    * the radius meaningful on 500 rows.
    *
    * `hashes` must carry a MATERIALIZED hash column (cached frame or a
    * parquet-backed fingerprint column): an unevaluated expression would be
    * inlined by CollapseProject into all numBands band slices on both join
    * sides — for an aggregate-HOF fingerprint like [[Multimodal.dHash]]
    * that's ~(numBands+1)× recompute per row (measured 6× wall-clock at
    * sf0.1). */
  /** Scale-aware band width for [[bandedHammingPairs]] — USE THIS instead
    * of copying a fixture's bandBits into production: returns the WIDEST
    * bandBits that (a) divides `bits` and (b) keeps retrieval lossless
    * (bits/bandBits > maxHamming); wider bands shrink the candidate
    * fraction numBands/2^bandBits, which is the scale knob, so widest is
    * always right. FAILS LOUDLY — instead of silently returning a banding
    * whose verify stream costs more than brute force — when, at the
    * caller's expected corpus size:
    *   (1) the candidate fraction is not at least 2x better than the
    *       all-pairs scan (fraction ≥ 0.5: the radius is too wide for the
    *       hash, e.g. radius 13 on 56 bits → 4-bit bands, fraction 7/8);
    *   (2) the expected per-row candidate count fraction·n exceeds 64 —
    *       the near-linearity bound (bucket size grows with n/2^bandBits,
    *       so bandBits must grow with log₂ n; a wider hash or smaller
    *       radius is the fix, not a denser scan). */
  def bandBitsFor(bits: Int, maxHamming: Int, expectedN: Long): Int = {
    require(expectedN >= 2, s"need at least 2 rows, got $expectedN")
    val lossless = (1 to bits).filter(bb => bits % bb == 0 && bits / bb > maxHamming)
    require(lossless.nonEmpty,
      s"no lossless banding: radius $maxHamming needs more than $maxHamming " +
        s"bands out of $bits bits")
    val bb = lossless.max
    val numBands = bits / bb
    val fraction = numBands.toDouble / math.pow(2.0, bb.toDouble)
    require(fraction < 0.5,
      f"radius $maxHamming on a $bits-bit hash forces $bb-bit bands whose " +
        f"candidate stream is $fraction%.2f of ALL pairs — denser than brute " +
        "force pays for; widen the hash or shrink the radius")
    require(fraction * expectedN < 64,
      f"$bb-bit bands give ~${fraction * expectedN}%.0f candidates PER ROW at " +
        f"n=$expectedN (fraction $fraction%.4f) — far from linear; widen the " +
        "hash or shrink the radius")
    bb
  }

  def bandedHammingPairs(hashes: DataFrame, bits: Int, bandBits: Int,
                         maxHamming: Int, idCol: String = "doc_id",
                         hashCol: String = "simhash"): DataFrame = {
    require(bits % bandBits == 0, s"bits $bits must split into whole $bandBits-bit bands")
    val numBands = bits / bandBits
    require(maxHamming < numBands,
      s"$numBands-band retrieval is lossless only for hamming < $numBands")
    val mask = (1L << bandBits) - 1
    val banded = hashes.select(col(idCol), col(hashCol),
      explode(array((0 until numBands).map(i =>
        struct(lit(i).as("band"),
          shiftright(col(hashCol), i * bandBits).bitwiseAND(lit(mask)).as("bits"))): _*)).as("bd"))
    // popcount-verify BEFORE distinct: the Hamming filter is deterministic
    // per pair, so filter-then-dedup equals dedup-then-filter — but the
    // filter is a codegen'd map over the joined stream, while distinct is a
    // shuffle. Candidate volume is Σ bucket² per band (millions at corpus
    // scale); survivors are the near-dup pairs (tiny, ≤ numBands copies
    // each). Shuffling only survivors keeps the one exchange O(|result|).
    banded.as("a").join(banded.as("b"),
        col("a.bd") === col("b.bd") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col(s"a.$hashCol").as("hash_a"), col(s"b.$hashCol").as("hash_b"))
      .withColumn("hamming", bit_count(col("hash_a").bitwiseXOR(col("hash_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate-cluster resolution — the dedup DECISION step: connected
    * components over the candidate-pair graph, each doc labeled with the
    * smallest doc id in its component (the canonical survivor). Output
    * (doc_id, cluster_id), one row per doc that appears in a pair.
    *
    * Two paths, same rows and schema:
    *  - at most [[ComponentsInDriverMaxPairs]] pairs: one bounded collect
    *    (`limit(bound + 1)`), union-find in the driver with the minimum id
    *    as root, and a local frame — no per-hop rounds, whatever the
    *    component diameter;
    *  - above the bound (or ids that are not non-null longs): iterative
    *    min-label propagation, per round one join (edges × labels) + one
    *    min-aggregate, looping until a round changes nothing. Rounds are
    *    bounded by the component diameter, and each round shuffles only
    *    (doc, label) pairs, never payloads. This is the path for pair sets
    *    that do not fit the driver. */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    duplicateClusters(pairs, ComponentsInDriverMaxPairs)

  /** Pair count up to which [[duplicateClusters]] finds the components in
    * the driver. Measured on 4 cores (`local[4]`, 3 GB heap, cached pairs
    * in 4 partitions forming chains of 2–6 docs, cached result filled;
    * median of 3, driver path vs label-propagation loop): 16k pairs 378 vs
    * 2256 ms, 262k 3438 vs 8854, 1M 15079 vs 30039; at 4M the run ran out
    * of its heap. The driver path wins at every size that fits, so there
    * is no speed crossover: the bound is the driver's memory, set a
    * quarter of the way to the largest size measured to fit (the driver
    * then holds at most 262144 collected pairs and a local frame of at
    * most 524288 rows). */
  val ComponentsInDriverMaxPairs: Int = 1 << 18

  /** [[duplicateClusters]] with the driver-path bound as a parameter; 0
    * turns the driver path off (tests pin the loop with it). */
  private[graft] def duplicateClusters(pairs: DataFrame, maxDriverPairs: Int): DataFrame = {
    require(maxDriverPairs >= 0 && maxDriverPairs < Int.MaxValue,
      s"maxDriverPairs must be in [0, ${Int.MaxValue}), got $maxDriverPairs")
    val ids = pairs.select(col("doc_a"), col("doc_b"))
    componentsInDriver(ids, maxDriverPairs).getOrElse(labelPropagation(ids))
  }

  /** Both directions of every pair, as (src, dst). */
  private def edgesOf(ids: DataFrame): DataFrame =
    ids.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(ids.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** Every doc labeled with its own id: the loop's first labels. */
  private def seedLabels(edges: DataFrame): DataFrame =
    edges.select(col("src").as("doc")).distinct().withColumn("lbl", col("doc"))

  /** One propagation round: each doc's label becomes the minimum over its
    * own and its neighbours' labels. The previous label rides along as
    * `prev` through the SAME min-aggregate that builds the round (labels
    * rows carry their own lbl, propagated rows carry null, min ignores
    * nulls — every doc has exactly one labels row), so the change check is
    * a JOIN-FREE filter count over the round's rows (LlmSpec pins the
    * no-join plan). */
  private def propagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val prop = edges.join(labels, edges("dst") === labels("doc"))
      .select(edges("src").as("doc"), col("lbl"), lit(null).cast("long").as("prev"))
    labels.withColumn("prev", col("lbl")).unionByName(prop)
      .groupBy("doc").agg(min("lbl").as("lbl"), min("prev").as("prev"))
  }

  private def asClusters(labels: DataFrame): DataFrame =
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))

  private def labelPropagation(ids: DataFrame): DataFrame = {
    val edges = edgesOf(ids).cache()
    // localCheckpoint per round: iterative plans COMPOUND (round N's
    // lineage embeds round N-1's twice) — without truncation the driver
    // drowns in plan analysis long before the executors do any work
    var labels = seedLabels(edges).localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val next = propagate(edges, labels).localCheckpoint(true)
      changed = next.where(col("lbl") =!= col("prev")).count()
      // `next` no longer reads the round before it: release that round's
      // blocks; only the last round's stay, read by the returned frame
      releaseCheckpoint(labels)
      labels = next.select("doc", "lbl")
    }
    edges.unpersist()
    asClusters(labels)
  }

  /** Drops the blocks of the local checkpoint `df` reads. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = true))

  /** The driver path of [[duplicateClusters]]: `None` when the bound is 0,
    * the ids are not longs, a pair holds a null, or there are more than
    * `maxPairs` pairs. Its schema is the loop's, read off the loop's own
    * (unexecuted) round plan. */
  private def componentsInDriver(ids: DataFrame, maxPairs: Int): Option[DataFrame] = {
    if (maxPairs <= 0 || !ids.schema.fields.forall(_.dataType == LongType)) return None
    val rows = ids.limit(maxPairs + 1).collect()
    if (rows.length > maxPairs || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val docs = rows.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    // union-find over indexes into the sorted ids: the smaller index is
    // always the root, so a component's root is its minimum id
    val parent = Array.tabulate(docs.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    rows.foreach { r =>
      val (a, b) = (find(java.util.Arrays.binarySearch(docs, r.getLong(0))),
        find(java.util.Arrays.binarySearch(docs, r.getLong(1))))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val edges = edgesOf(ids)
    val schema = asClusters(propagate(edges, seedLabels(edges))).schema
    val out = docs.indices.map(i => Row(docs(i), docs(find(i))))
    Some(ids.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema))
  }

  /** Survivor selection per duplicate cluster — the production dedup
    * DECISION: within each [[duplicateClusters]] component, keep the row
    * ranked first by the caller's ordering (quality score desc, length
    * desc, source priority, …; min-id is the degenerate case). One join of
    * the (doc, cluster) map against the doc metadata plus one per-cluster
    * window — both keyed by ids/clusters, the payload text never moves.
    * Output: the surviving docs' rows plus their `cluster_id`. */
  def resolveSurvivors(clusters: DataFrame, docs: DataFrame,
                       ordering: Seq[org.apache.spark.sql.Column],
                       idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(ordering: _*)
    clusters.join(docs, Seq(idCol))
      .withColumn("_rnk", row_number().over(w))
      .where(col("_rnk") === 1)
      .drop("_rnk")
  }

  /** SEMANTIC decontamination — the embedding-space twin of
    * [[benchmarkOverlap]]: flag corpus vectors whose cosine to ANY held-out
    * evaluation vector reaches `threshold` (paraphrased eval content that
    * n-gram decontamination cannot see). Output per corpus vector: the max
    * similarity over the eval set, the nearest eval id (ties → lowest id),
    * and the flag as {0,1}.
    *
    * MAP-ONLY (the [[Similarity.assignCells]] shape): eval sets are tiny
    * next to a 100 TB corpus, so the whole held-out set collapses into ONE
    * sorted broadcast row with precomputed norms; each streamed corpus row
    * computes its norm once and takes a per-row argmax over the eval array —
    * the corpus payload never shuffles, nothing joins, one codegen pass.
    * Cosine is the ordered-fold tree, so max_sim hash-matches any engine
    * folding sequentially. Callers must keep corpus and eval DISJOINT
    * (a vector compared against itself is definitionally contaminated).
    * An EMPTY held-out set fails loudly at execution (`raise_error` baked
    * into the plan) — an argmax over zero eval vectors would otherwise
    * return NULL max_sim/contaminated for every corpus row, which a
    * downstream `where(contaminated = 1)` silently reads as clean. */
  def semanticContamination(corpus: DataFrame, heldOut: DataFrame,
                            threshold: Double): DataFrame = {
    val hRow = broadcast(heldOut
      .agg(array_sort(collect_list(struct(col("vec_id").as("hid"),
        col("embedding").as("he"),
        Similarity.norm(col("embedding")).as("hn")))).as("hs")))
    corpus.crossJoin(hRow)
      .withColumn("hs",
        when(size(col("hs")) > 0, col("hs")).otherwise(raise_error(
          lit("semanticContamination: held-out set is empty — every " +
            "max_sim would be NULL, not 0"))))
      .select(col("vec_id"), col("embedding"), col("hs"),
        Similarity.norm(col("embedding")).as("cn"))
      .select(col("vec_id"),
        array_max(transform(col("hs"), h =>
          struct((Similarity.dot(col("embedding"), h.getField("he")) /
              (col("cn") * h.getField("hn"))).as("s"),
            (-h.getField("hid")).as("nid")))).as("best"))
      .select(col("vec_id"), col("best.s").as("max_sim"),
        (-col("best.nid")).as("nearest_eval_id"),
        (col("best.s") >= threshold).cast("int").as("contaminated"))
  }

  /** Benchmark decontamination — flag training documents that share content
    * with a held-out evaluation set (the standard n-gram-overlap
    * decontamination pass run before training). Inputs are two (id, gram)
    * shingle frames; output is one row per corpus doc with its distinct
    * shingle total and how many of them appear ANYWHERE in the benchmark —
    * exact integers, the contamination ratio/threshold is downstream
    * arithmetic.
    *
    * PRECONDITION: `corpusGrams` must be (id, gram)-distinct — [[charGrams]]
    * (the corpus's persisted shingle artifact) already is. The function does
    * NOT re-dedup: doing so would shuffle the full corpus gram stream,
    * defeating the one-pass shape below; a non-distinct input double-counts
    * both `n_grams` and `n_contaminated` by the duplicate factor.
    * `benchGrams` needs no such care (it is `distinct`ed here — it's tiny).
    *
    * Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    * benchmark's distinct-gram set broadcasts and the corpus side is ONE
    * pass — a broadcast LEFT OUTER probe whose null/non-null `hit` feeds a
    * map-side-combined conditional count alongside the total count in the
    * same aggregation; the corpus shingles never shuffle on the gram. (If
    * the benchmark ever outgrew broadcast, drop the hint and the same plan
    * runs as a shuffled join.) */
  def benchmarkOverlap(corpusGrams: DataFrame, benchGrams: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val bench = broadcast(benchGrams.select(col("gram")).distinct()
      .withColumn("hit", lit(1)))
    // ONE pass: broadcast-probe marks each corpus gram, a single map-side-
    // combined aggregation counts totals and hits together (count(col)
    // skips nulls, so unmatched grams don't count as contaminated)
    corpusGrams.join(bench, Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
  }

  /** [[benchmarkOverlap]] for benchmarks TOO BIG to broadcast exactly —
    * the Bloom-prefiltered two-phase decontamination. Same EXACT output
    * (the Bloom never false-negatives, and the exact verify join kills its
    * false positives), different scale shape: what broadcasts is the
    * benchmark's Bloom filter packed into ONE dense-bitmap row (8 KB at
    * the xx family's m = 2^16 cap) plus the verified hit set (bounded by
    * |bench ∩ corpus vocab| + the FP sliver), never the full benchmark
    * gram set. The corpus gram stream itself is touched by one map-only
    * Bloom probe, one maybe-present-sliver distinct, and the same
    * single-pass probe+count as the exact form — it never shuffles on the
    * gram against the benchmark. Same (id, gram)-distinct PRECONDITION on
    * `corpusGrams`.
    *
    * Size-aware cut-over (spark_optimization_guide §1.2/§3): when the
    * BENCH side's plan-estimated bytes fit
    * `spark.graft.decontam.exactMaxBytes` (default 256 MB), the three-pass
    * Bloom machinery buys nothing — the exact gram set broadcasts directly
    * and the operator delegates to [[benchmarkOverlap]], whose output is
    * byte-identical (LlmSpec pins the equality). The estimate is
    * plan-time metadata (no extra job); a 100 TB-scale benchmark blows the
    * threshold and takes the Bloom path unchanged. */
  def benchmarkOverlapPrefiltered(corpusGrams: DataFrame, benchGrams: DataFrame,
                                  idCol: String = "doc_id",
                                  k: Int = 4, m: Int = 1 << 16): DataFrame = {
    val exactMax = corpusGrams.sparkSession.conf
      .get("spark.graft.decontam.exactMaxBytes", (256L << 20).toString).toLong
    if (benchGrams.queryExecution.optimizedPlan.stats.sizeInBytes <= exactMax)
      return benchmarkOverlap(corpusGrams, benchGrams, idCol)
    val benchDistinct = benchGrams.select(col("gram")).distinct()
    // xx-hash bit family (one codegen'd xxhash64 per gram vs an md5 digest
    // + hex parse): this filter's bit layout is observed by nothing — the
    // verify join below makes the output exact either way — and build and
    // probe share the derivation structurally (the paired Xx functions).
    val regs = Sketches.bloomRegistersXx(benchDistinct, Nil, "gram", k, m)
    // the registers pack into ONE broadcast dense-bitmap row and the
    // corpus probes it MAP-ONLY: the former register-frame probe put the
    // whole corpus vocabulary through a distinct shuffle, a k-way bit
    // explode, a join and a per-gram aggregation (~25 of this operator's
    // ~32 task-seconds at sf0.1); now the gram stream is touched by one
    // codegen'd filter pass and only the maybe-present SLIVER is
    // distinct'ed for the exact verify
    val bitmap = broadcast(Sketches.bloomBitmapXx(regs, m))
    val candidates = corpusGrams.select(col("gram")).crossJoin(bitmap)
      .where(Sketches.bloomMaybePresentXx("gram", k, m))
      .select(col("gram")).distinct()
    // exact verify: candidates ∩ benchmark kills the FP sliver. The
    // CANDIDATES side broadcasts (bounded by |bench ∩ corpus vocab| + the
    // FP sliver) and the benchmark STREAMS map-only past it — the naive
    // orientation (candidates left-semi benchmark) would build on the
    // benchmark, which by this operator's premise exceeds broadcast, and
    // planned as a SortMergeJoin at sf0.1 (caught by the rehearsal gate)
    val verified = broadcast(
      benchDistinct.join(broadcast(candidates), Seq("gram"), "left_semi")
        .withColumn("hit", lit(1)))
    corpusGrams.join(verified, Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
  }

  /** INCREMENTAL SemDeDup pairing — semantic near-dup candidates of an
    * ingest BATCH against the already-indexed corpus, without ever
    * re-pairing the corpus with itself (the [[crossSetCandidates]]
    * maintenance shape, lifted to embedding space): both sides carry their
    * coarse cell ([[Similarity.assignCells]] — map-only, so a STREAMING
    * batch assigns without state), candidates share a cell, and the cosine
    * threshold keeps true near-dups. Work is O(batch × matched cells),
    * never O(corpus²); with the index persisted partitioned by cell, only
    * the batch's cells are read. The batch side is a plain stream-static
    * equi-join away from running under Structured Streaming unchanged
    * (StreamingSpec proves it). Output: (batch_id, index_id, cos_sim). */
  def incrementalSemanticPairs(indexAssigned: DataFrame, batchAssigned: DataFrame,
                               threshold: Double): DataFrame = {
    val idx = indexAssigned.select(col("vec_id").as("index_id"), col("cell"),
      col("embedding").as("ie"), Similarity.norm(col("embedding")).as("inrm"))
    val bat = batchAssigned.select(col("vec_id").as("batch_id"), col("cell"),
      col("embedding").as("be"), Similarity.norm(col("embedding")).as("bnrm"))
    bat.join(idx, "cell")
      .select(col("batch_id"), col("index_id"),
        (Similarity.dot(col("be"), col("ie")) /
          (col("bnrm") * col("inrm"))).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** First-occurrence NOVELTY profile — the curriculum/ordering statistic:
    * per document, its distinct shingle count and how many of those shingles
    * appear in NO lower-id document (doc ids are the ingest order, so
    * `n_novel / n_grams` is the fraction of genuinely new content each doc
    * adds — the curve flattens as a crawl saturates, and per-source novelty
    * decides which sources still pay for their ingest cost).
    *
    * PRECONDITION: `grams` must be (id, gram)-distinct ([[charGrams]] is) —
    * the [[benchmarkOverlap]] contract.
    *
    * Scale shape: NO gram-keyed join of corpus against corpus. n_novel
    * needs only each gram's min doc id — one map-side-combined aggregate on
    * the gram, re-aggregated by that min id (the gram itself is dropped
    * before anything re-shuffles, so the second exchange carries already-
    * aggregated (doc, count) rows); n_grams is one doc-keyed count; the
    * final join is docs-sized × docs-sized. The only corpus-sized exchange
    * is the gram aggregate every shingle statistic already pays. */
  def noveltyStats(grams: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val perDoc = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy(col("gram")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** md5 carved into `n` independent 8-hex-char hash values. */
  def carvedHashes(c: Column, n: Int): Seq[Column] =
    (0 until n).map(j => substring(md5(c), j * 8 + 1, 8))

  /** Incremental dedup candidates: a NEW batch's MinHash signatures banded
    * against an already-indexed corpus's signatures — WITHOUT re-pairing the
    * corpus with itself. This is the production maintenance shape: a 100 TB
    * corpus is deduplicated once, its signature frame persists (partitioned
    * by band key), and each ingest batch only joins ITS bands against the
    * stored ones — work is O(batch + matched buckets), never O(corpus²) and
    * never a corpus self-join. MinHash signatures are per-doc (independent
    * of the rest of the corpus), so a full-corpus signature artifact can be
    * split into index/batch sides by filtering — no recompute.
    *
    * Returns distinct (batch_doc, index_doc) candidates; verify with
    * [[setJaccardOnPairs]] before acting (same contract as
    * [[lshCandidatePairs]]). */
  def crossSetCandidates(indexSigs: DataFrame, batchSigs: DataFrame,
                         bands: Int, rowsPerBand: Int,
                         idCol: String = "doc_id"): DataFrame = {
    def banded(sigs: DataFrame): DataFrame =
      bandedSignatures(sigs, bands, rowsPerBand, idCol)
    banded(batchSigs).as("n").join(banded(indexSigs).as("x"),
        col("n.band") === col("x.band") && col("n.sig") === col("x.sig"))
      .select(col(s"n.$idCol").as("batch_doc"), col(s"x.$idCol").as("index_doc"))
      .distinct()
  }

  /** Non-overlapping `n`-token tiles per document, with tile position —
    * the exact-substring dedup artifact (tiled variant of the suffix-array
    * scheme in Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": tiling trades the suffix array's arbitrary-offset
    * matches for a pure explode that needs no global sort). One narrow map
    * pass; the output is ~corpus-sized and never wider than the input. */
  def tokenTiles(docs: DataFrame, n: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol),
        explode(sequence(lit(0), floor((size(col("toks")) - 1) / n).cast("int"))).as("tile_idx"),
        col("toks"))
      .select(col(idCol), col("tile_idx"),
        concat_ws(" ", slice(col("toks"), col("tile_idx") * n + 1, lit(n))).as("tile"))

  /** OVERLAPPING `n`-token windows per document at stride 1 — the faithful
    * arbitrary-offset form of the exact-substring family ([[tokenTiles]] is
    * the cheaper non-overlapping tiling): a duplicated span is caught at
    * ANY alignment, at the cost of n× more window rows. Documents shorter
    * than `n` tokens yield no windows (no span of length n exists). */
  def overlappingWindows(docs: DataFrame, n: Int,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col(idCol),
        explode(sequence(lit(0), size(col("toks")) - n)).as("pos"),
        col("toks"))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(n))).as("win"))

  /** Exact-substring span dedup (Lee et al. 2022, windowed form): every
    * token position covered by ANY corpus-duplicated n-token window is
    * masked out of its document; the survivor text keeps the uncovered
    * tokens in order. Unlike [[chunkDedup]]'s tiling, a duplicated span is
    * removed wherever it starts.
    *
    * Scale shape: the window aggregation is the dominant shuffle (n× the
    * corpus token stream, map-side combined); everything after the
    * duplicated-window filter is sized by TRUE duplication — covered
    * positions explode only from duplicated windows, collapse to one
    * per-doc position-set row, and the final pass filters each doc's token
    * array with an indexed lambda against that set (no per-token join, no
    * second corpus-wide shuffle beyond the per-doc rollup). */
  def spanDedup(docs: DataFrame, n: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wins = overlappingWindows(docs, n, idCol, textCol)
    // ONE window-keyed shuffle, SPILLABLE on hot keys: the per-occurrence
    // duplication count comes from a window aggregate over the win
    // partition, not from `collect_list(struct(id, pos))` on a groupBy
    // (r14's form). The count-join it replaced shuffled the n×-corpus
    // window stream twice; the r14 collect_list kept one shuffle but put
    // EVERY occurrence of a hot window into ONE aggregation-buffer array —
    // an unspillable OOM at web-corpus boilerplate scale (guide §5, r14
    // verdict item 5). WindowExec buffers the hot group in a spillable
    // row array instead (spark.sql.windowExec.buffer.spill.threshold), so
    // a window duplicated a million times streams through disk, and the
    // count never materializes an array at all. Still exactly one
    // corpus-scale exchange; the per-doc collect_set below is bounded by
    // document length.
    val covered = wins
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("win"))))
      .where(col("n_occ") > 1)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cp"))
      .groupBy(col(idCol)).agg(collect_set(col("cp")).as("cov"))
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .join(covered, Seq(idCol), "left_outer")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_covered"),
        array_join(filter(col("toks"),
          (_, i) => !coalesce(array_contains(col("cov"), i), lit(false))), " ")
          .as("retained_text"))
  }

  /** Duplicated-chunk removal over a tile frame ([[tokenTiles]]): any tile
    * occurring more than once corpus-wide is dropped from EVERY document
    * (the aggressive within-and-across-doc policy of C4/RefinedWeb line
    * dedup); the survivor text is reassembled in original tile order.
    *
    * Scale shape: one hash aggregation on the tile (map-side combined — the
    * dominant cost and exactly the exact-dedup shuffle shape, on chunk
    * granularity), one shuffled equi-join back on the tile, then a per-doc
    * aggregation that carries (tile_idx, tile) structs — never the full
    * corpus twice. When no tile of a doc is duplicated, `retained_text`
    * reconstructs the original text exactly (property-tested). */
  def chunkDedup(tiles: DataFrame, idCol: String = "doc_id"): DataFrame = {
    // ONE tile-keyed shuffle, SPILLABLE on hot keys (the spanDedup
    // discipline, same §5 rationale): each occurrence reads its tile's
    // corpus-wide count from a window aggregate over the tile partition —
    // no counts join back onto a second full shuffle, and no
    // collect_list(occurrences) whose one aggregation-buffer array must
    // hold every occurrence of a boilerplate tile in memory.
    tiles
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(col("tile"))))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_tiles"),
        // collect_list skips the nulls `when` leaves on duplicated tiles;
        // array_sort on (tile_idx, tile) structs restores document order
        array_join(transform(
          array_sort(collect_list(when(col("n_occ") === 1,
            struct(col("tile_idx"), col("tile"))))),
          x => x("tile")), " ").as("retained_text"))
  }
}
