package graft.queries

import graft.llm.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import QueryDef.table

/** Shared per-dataset index artifacts for the LLM query families (the
  * one-time builds a deployment runs at ingest — shingle/token sets,
  * MinHash signatures, LSH pairs, SimHash/dHash/winnowing fingerprints,
  * IVF cells, PQ codes, the TF matrix, duplicate-cluster maps) plus the
  * DuckDB CTE snippets their oracles share. Hash functions are md5-derived
  * so the oracle reproduces them exactly; cosine is the ordered sequential
  * double fold, bit-identical between Spark's `aggregate` HOF and DuckDB's
  * list_cosine_similarity (verified empirically).
  *
  * Storage: every artifact is an [[ArtifactStore]] entry, built once per
  * (dataset dir, kind) — e.g. (d, "grams"), (d, "sets-token") — and dropped,
  * files included, when the SparkContext stops. An accessor returns its
  * artifact already materialized, in one of two media:
  *  - parquet under the store's root ([[ArtifactStore.parquet]]) for the
  *    artifacts whose consumers are dominated by re-SCANNING array columns:
  *    materializing array rows out of the in-memory columnar cache measured
  *    ~6-7 taskSec per scan at sf0.1 (JobTrace, Jaccard set arrays) where
  *    the vectorized parquet reader serves the same rows for ~1. Build cost
  *    is identical to the cache (one pass);
  *  - the in-memory cache, filled at build ([[ArtifactStore.cached]]), for
  *    the rest; the per-accessor notes give the reasons.
  *
  * Scale notes: every shape here is a groupBy/join on a derived key — at
  * 100 TB the shingle explode is the big intermediate, bounded by banding
  * (LSH) so candidate pairs stay ~linear in near-dup count. */
private[graft] object LlmArtifacts {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Per-dataset LSH index artifacts: the distinct shingle-set frame, the
    * distinct token-set frame, the wide MinHash signature frame, and the
    * candidate-pair set. Deployments compute these once and persist them; the
    * query family reuses them the way the kupo queries share one built index.
    * Everything shingle-shaped derives from ONE corpus explode (`gramsOf`). */
  def setsOf(kind: String, elems: DataFrame, elemCol: String, d: String): DataFrame =
    ArtifactStore(elems.sparkSession, d, s"sets-$kind") {
      ArtifactStore.parquet(Dedup.elementSets(elems, elemCol), s"sets-$kind")
    }

  /** The testdata corpus is ONE small parquet file → one input partition —
    * a single task would run the whole shingle explode. Spread the narrow
    * pre-explode rows across the cluster first (cheap: docs are small before
    * exploding; on a real multi-file corpus the reader already splits). */
  def spreadDocs(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents").repartition(s.sparkContext.defaultParallelism)

  def gramsOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "grams") {
    ArtifactStore.parquet(Dedup.charGrams(spreadDocs(s, d), n = 8), "grams")
  }
  def tokensOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "tokens") {
    ArtifactStore.parquet(Dedup.docTokens(spreadDocs(s, d)), "tokens")
  }

  // NOTE (r9, measured): sharing a CACHED (source, doc_id, token) explode
  // across the sketch queries was tried and REVERTED — feeding the
  // register aggregates from an InMemoryTableScan measured ~2× slower
  // than re-running the codegen'd explode over the compressed parquet
  // (q_heavy_hitters 1.20 → 2.54 s, q_bloom_filter 0.61 → 1.71 s at
  // sf0.1): the explode is cheap inside one whole-stage-codegen span,
  // while the cache breaks the span and pays block decompression per
  // pass. The shingle/signature caches above earn their keep because
  // their BUILDS are expensive (hashing, banding), not the scan.
  def sigsOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "sigs") {
    ArtifactStore.cached(Dedup.minhashFromGrams(gramsOf(s, d), numHashes = 4))
  }
  def pairsOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "pairs") {
    ArtifactStore.cached(Dedup.lshCandidatePairs(sigsOf(s, d), bands = 2, rowsPerBand = 2))
  }

  /** Connected-component cluster assignment over the LSH pairs — the
    * persisted dedup-decision artifact (a deployment materializes it once
    * per corpus snapshot). Under [[Dedup.ComponentsInDriverMaxPairs]] pairs
    * the components come from one bounded collect and a driver union-find
    * (2 jobs with the cache fill); above it, from the distributed
    * label-propagation loop. */
  def clustersOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "clusters") {
    ArtifactStore.cached(Dedup.duplicateClusters(pairsOf(s, d)))
  }

  /** SemDeDup threshold: the synthetic embeddings are random (within-cell
    * cosine tops out near 0.6), so the semantic-duplicate cut sits at 0.35 —
    * low enough to form non-trivial groups at every SF (94 pairs at
    * sf0.001, ~1.7k at sf0.1 incl. a 390-member component), high enough that
    * most vectors stay singletons. A real corpus uses ~0.95+. */
  val SemDedupTau = 0.35

  /** Semantic duplicate-group map (connected components over the within-cell
    * cosine pairs) — the persisted SemDeDup decision artifact, built the
    * same two ways as [[clustersOf]] (sf0.1's ~1.7k pairs take the driver
    * path, so its 390-member component no longer costs one round per hop). */
  def semClustersOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "sem-clusters") {
    ArtifactStore.cached(
      Dedup.duplicateClusters(Dedup.semanticPairs(ivfOf(s, d), SemDedupTau)))
  }

  /** Per-doc 16-bit SimHash signatures — cached artifact shared by the
    * signature dump and the banded pair-retrieval query. */
  def simhashOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "simhash") {
    ArtifactStore.cached(Dedup.simhash(spreadDocs(s, d), bits = 16))
  }

  /** Per-image dHash fingerprints — cached artifact for the perceptual
    * near-dup query. MUST be materialized before the banded self-join:
    * CollapseProject would otherwise inline the 56-step aggregate HOF into
    * every band expression on both join sides (~15 evaluations per row —
    * measured 6× slower at sf0.1). Fingerprinting is one map pass, so the
    * cache holds n×16 bytes; a production corpus writes the fingerprint
    * column to parquet at ingest, same shape. */
  def dhashOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "dhash") {
    ArtifactStore.cached(graft.llm.Multimodal.dHash(graft.llm.Multimodal.grayscaleGrid(
      table(s, d, "embeddings"), "vec_id", "embedding"), w = 8, h = 8))
  }

  /** dHash fingerprints computed from REAL PNG bytes: the grayscale grids
    * are encoded to actual PNG payloads and decoded back through
    * `javax.imageio` (Multimodal.ImageIoCodec) before hashing — no stub
    * anywhere in the path. Materialized for the same CollapseProject
    * reason as [[dhashOf]], and because the encode+decode round-trip
    * should run once, not once per banded join reference. */
  def decodedDhashOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "decoded-dhash") {
    implicit val sp: SparkSession = s
    val grids = graft.llm.Multimodal.grayscaleGrid(
      table(s, d, "embeddings"), "vec_id", "embedding")
    val png = graft.llm.Multimodal.encodePngGrid(grids, w = 8, h = 8)
    val decoded = graft.llm.Multimodal.decodeGrayGrid(png)
    ArtifactStore.cached(graft.llm.Multimodal.dHash(decoded, w = 8, h = 8,
      idCol = "media_id", pxCol = "px"))
  }

  /** [[decodedDhashOf]] over a MIXED-CONTAINER corpus: each grid encodes
    * into png / bmp / gif by vec_id % 3 and decodes back through the ONE
    * sniffing decode path — three real JDK codecs in a single pipeline.
    * All three containers are gray-lossless (ImageIoCodec.LosslessFormats),
    * so the fingerprints must equal the pure-grid derivation exactly; any
    * per-format corruption (BMP row order, GIF palette quantization drift)
    * hash-mismatches the oracle. */
  def mixedDecodedDhashOf(s: SparkSession, d: String): DataFrame =
    ArtifactStore(s, d, "mixed-decoded-dhash") {
      implicit val sp: SparkSession = s
      val grids = graft.llm.Multimodal.grayscaleGrid(
        table(s, d, "embeddings"), "vec_id", "embedding")
      val mixed = graft.llm.Multimodal.encodeGrayGridAssets(grids, w = 8, h = 8,
        format = id => (id % 3) match { case 0 => "png"; case 1 => "bmp"; case _ => "gif" })
      val decoded = graft.llm.Multimodal.decodeGrayGrid(mixed)
      ArtifactStore.cached(graft.llm.Multimodal.dHash(decoded, w = 8, h = 8,
        idCol = "media_id", pxCol = "px"))
    }

  /** Zero-point-centered int8 code frame — the persisted artifact of the
    * scalar-quantized index (a deployment calibrates once at ingest and
    * writes the code column to parquet). Materialized so the scan half
    * reads codes, not a re-derived calibration subtree per consumer —
    * same discipline as [[dhashOf]]. */
  def int8CodesOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "int8") {
    ArtifactStore.cached(Similarity.centeredInt8Codes(spreadEmbeddings(s, d)))
  }

  /** Per-doc winnowing fingerprints (k=8, w=4) — cached artifact shared by
    * the fingerprint report and the overlap-pairing query (the explode +
    * per-doc window is the expensive part; both queries read the result). */
  def winnowOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "winnow") {
    ArtifactStore.parquet(
      TextAnalysis.winnowingFingerprints(spreadDocs(s, d), k = 8, w = 4), "winnow")
  }

  /** The per-doc simhash derivation as a DuckDB CTE (mirrors Dedup.simhash). */
  val simhashDuckSql =
    """sims AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, b,
      |           sum(CASE WHEN substr(h, b, 1) >= '8' THEN 1 ELSE -1 END) AS s
      |    FROM (SELECT doc_id, md5(token) AS h
      |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
      |         unnest(range(1, 17)) AS bs(b)
      |    GROUP BY doc_id, b)
      |  GROUP BY doc_id)""".stripMargin

  def spreadEmbeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").select("vec_id", "embedding")
      .repartition(s.sparkContext.defaultParallelism)

  /** Hyperplane-bucket index over the embeddings (planes = 4 fixed corpus
    * vectors) — the persisted near-dup artifact. */
  def bucketsOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "buckets") {
    val emb = spreadEmbeddings(s, d)
    val planes = emb.where(col("vec_id").between(1, 4))
      .select(col("vec_id").as("plane_id"), col("embedding").as("plane"))
    ArtifactStore.cached(Dedup.embeddingBuckets(emb, planes))
  }

  /** IVF cell assignment (4 fixed centroids) — the persisted ANN artifact;
    * a deployment stores it partitioned by cell. */
  def ivfOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "ivf") {
    val emb = spreadEmbeddings(s, d)
    val centroids = emb.where(col("vec_id").isin(10L, 20L, 30L, 40L))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    ArtifactStore.parquet(Similarity.assignCells(emb, centroids), "ivf")
  }

  /** PQ parameters shared by the codebook, the encode artifact, and the ADC
    * query: 4 subspaces × 16 dims over the 64-dim embeddings, codewords from
    * 4 fixed corpus vectors (vec_id 10/20/30/40 → code 1..4). */
  val PqM = 4
  val PqSubDim = 16

  /** PQ codebook — a trained-once ingest artifact like the encode frames
    * that derive from it (cached r14: every ADC query re-planned and
    * re-executed the codebook lineage per execution — m×ks rows whose
    * BUILD scans the embeddings; a deployment ships it like a model file). */
  def pqCodebookOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "pq-codebook") {
    ArtifactStore.cached(Similarity.pqCodebook(spreadEmbeddings(s, d),
      Seq(10L -> 1, 20L -> 2, 30L -> 3, 40L -> 4), PqM, PqSubDim))
  }

  /** Term-frequency matrix (one row per doc × term) — the persisted TF-IDF
    * artifact; every term statistic derives from it without re-exploding
    * the token stream. */
  def tfOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "tf") {
    ArtifactStore.cached(TextAnalysis.termFrequencies(spreadDocs(s, d)))
  }

  /** Per-doc token lengths — the TF family's second persisted artifact
    * (BM25's length normalization reads it on EVERY query; deriving it
    * inline would re-aggregate the whole tf matrix per query). */
  def dlOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "dl") {
    ArtifactStore.cached(TextAnalysis.docLengthsFromTf(tfOf(s, d)))
  }

  /** PQ-encoded corpus (vec_id + m integer codes) — the persisted compressed
    * ANN artifact; at scale this is the ONLY thing the ADC query scans. */
  def pqOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "pq") {
    ArtifactStore.cached(
      Similarity.pqEncode(spreadEmbeddings(s, d), pqCodebookOf(s, d), PqM, PqSubDim))
  }

  /** The fixed coarse-quantizer centroid set shared by the IVF variants
    * (4 corpus vectors). */
  def centroidsOf(s: SparkSession, d: String): DataFrame =
    spreadEmbeddings(s, d).where(col("vec_id").isin(10L, 20L, 30L, 40L))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  /** L2-metric IVF cell assignment (same 4 fixed centroids) — the Euclidean
    * twin of [[ivfOf]]; both are map-only and a deployment persists either
    * partitioned by cell. */
  def ivfL2Of(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "ivfl2") {
    ArtifactStore.parquet(Similarity.assignCells(spreadEmbeddings(s, d),
      centroidsOf(s, d), metric = "l2"), "ivfl2")
  }

  /** Fixed RESIDUAL codebook for the composed IVF-PQ index: 8 codewords per
    * subspace, carved from the residuals of corpus vectors 1..8 (the
    * deterministic stand-in for per-subspace residual k-means —
    * [[Similarity.pqTrainCodebook]] over the residual frame is the trained
    * path, exercised and recall-gated in LlmScaleRehearsal). Cached like
    * [[pqCodebookOf]]: the five IVF-PQ queries each re-ran the residual +
    * codebook lineage per execution. */
  def ivfPqCodebookOf(s: SparkSession, d: String): DataFrame =
    ArtifactStore(s, d, "ivfpq-codebook") {
      ArtifactStore.cached(Similarity.pqCodebook(
        Similarity.residuals(ivfL2Of(s, d), centroidsOf(s, d))
          .select(col("vec_id"), col("residual").as("embedding")),
        (1L to 8L).map(i => i -> i.toInt), PqM, PqSubDim))
    }

  /** IVF-PQ-encoded corpus (vec_id, cell, m integer codes) — the persisted
    * composed-index artifact; at scale it is partitioned by cell and the ADC
    * query scans only the probed cells' code columns. */
  def ivfPqOf(s: SparkSession, d: String): DataFrame = ArtifactStore(s, d, "ivfpq") {
    ArtifactStore.parquet(Similarity.ivfPqEncode(ivfL2Of(s, d), centroidsOf(s, d),
      ivfPqCodebookOf(s, d), PqM, PqSubDim), "ivfpq")
  }

  /** Build the shared index artifacts (shingle/token sets, MinHash
    * signatures, LSH candidate pairs, duplicate clusters, element-set
    * arrays, embedding buckets, IVF cells, PQ codes, fingerprints, TF) —
    * the one-time build a deployment runs at ingest, so per-query timings
    * measure the query, not the build.
    *
    * The 19 builds run side by side on a pool of `defaultParallelism`
    * threads: independent builds would otherwise leave cores idle between
    * their small jobs. The longest dependency chains are submitted first
    * (grams → sigs → pairs → clusters, ivf → sem-clusters, ivfl2 →
    * ivfpq-codebook → ivfpq); a shared dependency is built once and
    * awaited by the others through its [[ArtifactStore]] slot, and the
    * accessors whose value a chain already built come last. The pool is
    * created here, so its threads inherit the caller's Spark local
    * properties, and it is shut down before `warm` returns; the first
    * failure, in submission order, is rethrown once every build ended. */
  def warm(s: SparkSession, d: String): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
    val builds = Seq[Callable[AnyRef]](
      () => clustersOf(s, d), () => semClustersOf(s, d), () => ivfPqOf(s, d),
      () => setsOf("gram", gramsOf(s, d), "gram", d), () => setsOf("token", tokensOf(s, d), "token", d),
      () => dlOf(s, d), () => pqOf(s, d), () => winnowOf(s, d), () => mixedDecodedDhashOf(s, d),
      () => decodedDhashOf(s, d), () => dhashOf(s, d), () => simhashOf(s, d), () => bucketsOf(s, d),
      () => pairsOf(s, d), () => ivfOf(s, d), () => ivfL2Of(s, d), () => ivfPqCodebookOf(s, d),
      () => pqCodebookOf(s, d), () => tfOf(s, d))
    val pool = Executors.newFixedThreadPool(s.sparkContext.defaultParallelism)
    try {
      val failures = builds.map(pool.submit(_)).flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** MinHash signatures (k=4) over char-8-gram shingles — ONE md5 per shingle
    * position, four hash functions carved out of its disjoint 8-hex-char
    * substrings, four mins folded in a single groupBy pass (no seed explode:
    * 4× less hashing and 4× fewer shuffle rows than the naive
    * per-seed-explode shape — that's the version that scales).
    * Spark and DuckDB sides mirror the derivation exactly. */
  val sigsWideSparkSql =
    """SELECT doc_id,
      |       min(substr(h, 1, 8)) AS mh0, min(substr(h, 9, 8)) AS mh1,
      |       min(substr(h, 17, 8)) AS mh2, min(substr(h, 25, 8)) AS mh3
      |FROM (SELECT doc_id, md5(substr(text, i, 8)) AS h
      |      FROM (SELECT doc_id, text, explode(sequence(1, greatest(length(text) - 7, 1))) AS i
      |            FROM documents))
      |GROUP BY doc_id""".stripMargin

  val sigsWideDuckSql =
    """sigs AS (
      |  SELECT doc_id,
      |         min(substr(h, 1, 8)) AS mh0, min(substr(h, 9, 8)) AS mh1,
      |         min(substr(h, 17, 8)) AS mh2, min(substr(h, 25, 8)) AS mh3
      |  FROM (SELECT doc_id, md5(substr(text, i, 8)) AS h
      |        FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 6, 2))) AS i
      |              FROM documents))
      |  GROUP BY doc_id)""".stripMargin

  /** 2 bands × 2 rows: docs agreeing on a whole band are candidate dups. */
  val bandsSparkSql =
    """bands AS (
      |  SELECT doc_id, 0 AS band, concat(mh0, mh1) AS sig FROM sigs
      |  UNION ALL
      |  SELECT doc_id, 1 AS band, concat(mh2, mh3) AS sig FROM sigs),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  val bandsDuckSql =
    """bands AS (
      |  SELECT doc_id, 0 AS band, mh0 || mh1 AS sig FROM sigs
      |  UNION ALL
      |  SELECT doc_id, 1 AS band, mh2 || mh3 AS sig FROM sigs),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
}
