package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryGroup, Tables}
import graft.operators._

/** Embedding similarity + scalable-dedup + multimodal surface
  * (SURVEY §7.6). Every query here is DRIVER-ORACLE-CHECKED bit-exactly:
  * the hashing family runs md5-based variants (min-wise-md5 MinHash,
  * md5-bit SimHash) because md5 is bit-identical in every engine, and
  * the ANN queries' plane math / k-means chain is deterministic enough
  * to reproduce in DuckDB SQL. The cheaper xxhash64 production forms
  * (Dedup.minhashSignatures / simhash64) stay spec-pinned in
  * DedupSimilaritySpec.
  */
object VectorQueries extends QueryGroup {

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    // Spread.up by vec id: every consumer's per-vector kernel (cosine
    // / centroid-assignment dot products over the array column) would
    // otherwise run inside the single scan task of the one-split
    // embeddings file (guide §2.5)
    Spread.up(Tables.embeddings(spark, dir).select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("vec")), col("id"))

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qvec"))

  /** The battery's shared trained index: [[Ivf.train]] is DETERMINISTIC
    * (seeded init, fixed iterations, decimal-exact means), so its k-row
    * LocalRelation is a pure function of (dir, k, iters) and every
    * IVF-family consumer (ivf_ann, ann_recall_eval, ann_probe_sweep,
    * semantic_dedup, the streaming ingest) can share ONE training run —
    * the real index lifecycle (train once, serve many) and the same
    * memoization rule as the dedup battery's persisted shingle cache.
    * Keyed per session so concurrent sessions never share plans. */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, Int), DataFrame]()
  private[queries] def trainedCentroids(spark: SparkSession, dir: String,
                                        k: Int = 8,
                                        iters: Int = 1): DataFrame =
    centroidCache.computeIfAbsent((spark, dir, k, iters),
      _ => Ivf.train(corpus(spark, dir), k, iters))

  def simTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(queriesDf(spark, dir), corpus(spark, dir), 5)

  /** The SQL surface of the same search: `cosine_sim` is the codegen
    * [[graft.functions.DotProductExpr]] composition injected via
    * [[graft.GraftExtensions]] (post-hoc registration path), consumed
    * from `spark.sql` — proving the extension-registered function is
    * bit-identical to the Column API under the driver oracle. */
  def sqlCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    Tables.embeddings(spark, dir)
      .createOrReplaceTempView("__graft_emb_sql")
    spark.sql(
      """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM __graft_emb_sql),
        |s AS (SELECT q.vec_id AS qid, c.vec_id AS id,
        |    cosine_sim(q.v, c.v) AS cosine
        |  FROM e q JOIN e c
        |    ON q.vec_id < 8 AND q.vec_id != c.vec_id)
        |SELECT qid, id, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, id) AS rank FROM s) t
        |WHERE rank <= 5""".stripMargin)
  }

  /** Production near-dup: exact cluster-blocked pairs (triangle-
    * inequality pruning, shuffle joins only — no O(n²) broadcast plan).
    * Bit-equal to the brute-force oracle by construction. */
  def nearDupCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsBlocked(corpus(spark, dir), 0.3, k = 8)

  /** Brute-force cross-check of the same answer (kept under the oracle
    * so the exact baseline stays driver-verified too). */
  def nearDupCosineExact(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(corpus(spark, dir), 0.3)

  def lshAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshBucketTopK(queriesDf(spark, dir), corpus(spark, dir), 5)

  def ivfAnn(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    // one k-means refinement pass: exercises the full train→assign→probe
    // path under the driver (recall quality itself is pinned by IvfSpec)
    val centroids = trainedCentroids(spark, dir)
    Ivf.searchTopK(queriesDf(spark, dir), Ivf.assign(c, centroids),
      centroids, k = 5, nprobe = 2)
  }

  /** ANN index-quality evaluation — recall@5 of the IVF index at
    * nprobe=1 against the exact brute-force answer, per query: the
    * acceptance measurement every ANN deployment runs before trusting
    * an index (and re-runs after each re-train). nprobe=1 is the
    * interesting setting — single-probe recall is where IVF actually
    * loses neighbours, so the recall column is non-trivially < 1.
    * Shape at scale: both sides are existing battery plans (bounded
    * probe join + windowed top-k); the evaluation itself is an
    * equi-join on (qid, id) + one count aggregate — linear in k·|Q|,
    * independent of corpus size. */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = queriesDf(spark, dir)
    val centroids = trainedCentroids(spark, dir)
    val approx = Ivf.searchTopK(q, Ivf.assign(c, centroids), centroids,
      k = 5, nprobe = 1).select(col("qid"), col("id"))
    val exact = Similarity.bruteForceTopK(q, c, 5).select("qid", "id")
    exact.join(approx.withColumn("__hit", lit(1)), Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(count("__hit").as("n_hit"))
      .select(col("qid"), col("n_hit"),
        (col("n_hit").cast("double") / lit(5.0)).as("recall_at_5"))
  }

  /** Recall-vs-nprobe curve — [[annRecallEval]] swept over
    * nprobe ∈ {1, 2, 4}: the sizing table every IVF deployment
    * produces before picking its probe budget (recall climbs toward
    * 1.0 as probes approach k; the wall cost per probe is the
    * cluster-scan the plan prunes to). The shared trained index feeds
    * ONE swept search ([[Ivf.searchTopKSweep]] — one probe join at max
    * nprobe, one window pass for every curve point); the exact ground
    * truth is computed once against the nprobe grid. Per-(nprobe, qid)
    * rows so the whole curve is hash-checked, not just its mean. */
  def annProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = queriesDf(spark, dir)
    val centroids = trainedCentroids(spark, dir)
    // the swept search probes the index ONCE at max nprobe and derives
    // every curve point in one window pass ([[Ivf.searchTopKSweep]]) —
    // the assigned corpus has a single consumer, so no persist either
    val sweep = Ivf.searchTopKSweep(q, Ivf.assign(c, centroids),
      centroids, k = 5, nprobes = Seq(1, 2, 4))
      .select(col("nprobe"), col("qid"), col("id"))
    val exact = Similarity.bruteForceTopK(q, c, 5).select("qid", "id")
      .withColumn("nprobe", explode(typedLit(Seq(1, 2, 4))))
    exact.join(sweep.withColumn("__hit", lit(1)),
        Seq("nprobe", "qid", "id"), "left")
      .groupBy("nprobe", "qid")
      .agg(count("__hit").as("n_hit"))
      .select(col("nprobe"), col("qid"), col("n_hit"),
        (col("n_hit").cast("double") / lit(5.0)).as("recall_at_5"))
  }

  /** SemDeDup under the oracle: the same k=8 / 1-refinement k-means
    * chain the ivf_ann oracle pins, then the within-cluster min-id kill
    * at the near-dup threshold the cosine battery uses
    * ([[graft.operators.SemanticDedup]]). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SemanticDedup.dedupe(corpus(spark, dir),
      trainedCentroids(spark, dir), minCosine = 0.3)

  /** PageRank over the similarity graph under the oracle: near-dup
    * pairs (cosine ≥ 0.3, the production BLOCKED plan — bit-equal to
    * the oracle's brute-force pair set by construction) symmetrized as
    * edges, all vectors as vertices, two power iterations
    * ([[graft.operators.PageRank]]). */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val pairs = Similarity.nearDupPairsBlocked(c, 0.3, k = 8)
      .select("id_a", "id_b")
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.operators.PageRank.run(c.select("id"), edges, iters = 2)
  }

  /** Triangle census of the co-purchase graph — parts that share an
    * order are linked; per-part triangle count + local clustering
    * coefficient via the degree-ordered orientation
    * ([[graft.operators.Triangles]]). The graph derives relationally
    * (a per-order self-join, pair count bounded by items-per-order²),
    * the census is the skew-capped wedge join — all-integer until the
    * final coefficient division, so bit-exact cross-engine. */
  /** Canonical co-purchase edges: parts sharing an order, (a < b) —
    * the relational graph the triangle census and the k-core peel both
    * analyze. The pair stream carries the RAW join output (a pair
    * repeats when two parts co-occur in several orders — measured 0.3%
    * of rows at sf0.1): both graph operators take `preDeduped = false`
    * and dedupe internally, which on their driver-local gate-SF paths
    * replaces a whole extra exchange (the global `.distinct()`) with
    * an O(1) hash-set test per collected row, and on the distributed
    * 100 TB path is the identical distinct exchange merely moved
    * inside the operator. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    // shuffle-hash, not sort-merge: the self-join key (orderkey) is
    // uniform and the per-partition build side stays bounded as long
    // as shuffle partitions track data size (the repo-wide rule) — the
    // two 600k-row sorts SMJ would run are the dominant cost of the
    // whole graph build at the gate SF (measured 1.9 s -> 0.85 s)
    li.select(col("l_orderkey"), col("l_partkey").as("a"))
      .hint("shuffle_hash")
      .join(li.select(col("l_orderkey"), col("l_partkey").as("b")),
        "l_orderkey")
      .filter(col("a") < col("b"))
      .select("a", "b")
  }

  /* A join-free Σ C(n_order, 2) aggregate could hand the operators an
   * `edgeCountHint` (never materialize the pair stream to size it —
   * the true-100 TB contract, spec-pinned on both operators); at the
   * measured SFs the probe JOB costs more than the probe-free
   * persist+count flow saves (0.35-0.5 s fixed job overhead vs a
   * count off the already-needed cache), so these queries take the
   * probe flow and leave the hint to genuinely huge callers. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    Triangles.perNode(coPurchaseEdges(spark, dir), preDeduped = false)

  /** k-core of the co-purchase graph ([[graft.operators.KCore]]):
    * six peels at k=65 — sized so the cascade actually iterates at
    * sf0.001 (191→189→188 survivors, converged by round 4) while the
    * denser larger SFs stay mostly intact. Exact integer degrees
    * throughout → bit-exact cross-engine. */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    KCore.peel(coPurchaseEdges(spark, dir), k = 65, rounds = 6,
      preDeduped = false)

  /** Per-label centroid outlier audit under the oracle
    * ([[graft.operators.Outliers]]): top-5 farthest vectors per label
    * by squared L2 to the label's decimal-exact centroid. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers.byGroup(
      Tables.embeddings(spark, dir).select(col("vec_id").as("id"),
        col("label").as("grp"),
        Similarity.asDouble(col("embedding")).as("vec")), k = 5)

  /** Top-k over int8-QUANTIZED embeddings — the storage/recall trade a
    * 100 TB ANN index actually ships (quantize at ingest, rank on the
    * 4×-smaller vectors): quantize → dequantize → the same brute-force
    * cosine, oracle-reproduced in DuckDB with the identical clamp/
    * round/scale arithmetic. Ranking fidelity vs full precision is
    * spec-pinned (DedupSimilaritySpec). */
  /** Quantize→dequantize projection shared by the quantized queries —
    * stage 1 of both must select candidates from the SAME vectors. */
  private def dqVecs(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
    import graft.functions.VectorFunctions._
    df.select(col("vec_id").as(idAs),
      dequantizeInt8(quantizeInt8(
        Similarity.asDouble(col("embedding")))).as(vecAs))
  }

  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(
      dqVecs(e.filter(col("vec_id") < 8), "qid", "qvec"),
      dqVecs(e, "id", "vec"), 5)
  }

  /** The full two-stage ANN shape production systems run: rank on the
    * int8-quantized index (stage 1, cheap, 4× smaller), then re-rank
    * ONLY the surviving candidates on full precision (stage 2) — the
    * candidates→verify pattern, here for vectors. Candidate set = top
    * 20 quantized; final answer = exact cosine top 5 among them. */
  def quantizedRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cand = Similarity.bruteForceTopK(
        dqVecs(e.filter(col("vec_id") < 8), "qid", "qvec"),
        dqVecs(e, "id", "vec"), 20)
      .select("qid", "id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("id").asc)
    cand.join(corpus(spark, dir), "id")
      .join(queriesDf(spark, dir), "qid")
      .withColumn("cosine", Similarity.cosine(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("id"), col("cosine"),
        col("rank").cast("int").as("rank"))
  }

  /** Min-wise MD5 signatures (fully oracle-checked — md5 is bit-equal
    * in every engine); emitted as `sig_str` because the driver's pandas
    * comparator cannot hash an array column. The xxhash64 production
    * variant stays spec-pinned in DedupSimilaritySpec. */
  def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignaturesMd5(Tables.documents(spark, dir), "doc_id",
      col("text"))
      .select(col("doc_id"), col("n_shingles"),
        concat_ws("_", col("sig")).as("sig_str"))

  def lshCandidates(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshCandidates(
      Dedup.minhashSignaturesMd5(Tables.documents(spark, dir), "doc_id",
        col("text")), "doc_id", rowsPerBand = 2, k = 8)

  /** Oracle-checked md5-bit variant; the xxhash64 BIGINT form
    * (Dedup.simhash64) stays spec-pinned as the production encoding. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashMd5Bits(Tables.documents(spark, dir), "doc_id", col("text"))

  /** REAL image decode under the oracle: per document, synthesize a tiny
    * PNG whose dimensions derive from doc_id (the fixture side), then
    * decode the actual bytes with `javax.imageio`
    * ([[Multimodal.ImageIoDecoder]]) — container sniffed from magic
    * bytes, width/height read from the decoded raster. The oracle
    * recomputes the expected dimensions from doc_id; the row only
    * matches if the encode→decode round trip through the real PNG codec
    * preserved them. Encoder-dependent fields (compressed byte length)
    * are excluded — they are real but not cross-engine predictable. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    // spreadForKernel: the (id, w, h) proxy rows repartition across the
    // session's cores BEFORE the encode→decode kernel — a single small
    // parquet file otherwise scans as one task and the codec runs
    // single-threaded (guide §2.5); the exchange moves ~16-byte rows,
    // the image bytes are synthesized after it (guide §2.3/§8).
    val media = Multimodal.spreadForKernel(Tables.documents(spark, dir)
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
        (pmod(col("doc_id") * 31, lit(48)) + 1).cast("int").as("h")))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        Multimodal.MediaRow(id, Multimodal.encodePng(w, h, id), "image")
      }
    Multimodal.decode(media, Multimodal.ImageIoDecoder)
      .toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
  }

  /** REAL image resize under the oracle ([[Multimodal.resizeHalf]]):
    * the same synthetic PNG table, nearest-neighbor half-scaled, with
    * the no-blending invariant checked in-engine (oracle: dimensional
    * contract + literal true). */
  def imageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same spreadForKernel rationale as [[multimodalMeta]]
    val media = Multimodal.spreadForKernel(Tables.documents(spark, dir)
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("w"),
        (pmod(col("doc_id") * 31, lit(48)) + 1).cast("int").as("h")))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        Multimodal.MediaRow(id, Multimodal.encodePng(w, h, id), "image")
      }
    Multimodal.resizeHalf(media).toDF()
  }

  /** REAL audio decode under the oracle, same design as
    * [[multimodalMeta]]: per document, synthesize a 16-bit mono WAV
    * whose frame count derives from doc_id, decode the actual RIFF
    * bytes with `javax.sound.sampled` ([[Multimodal.WavCodec]]) — the
    * sample rate, channel count, frame length and derived duration all
    * come from the parsed container and only match the oracle's
    * doc_id arithmetic if the encode→decode round trip preserved them. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same spreadForKernel rationale as [[multimodalMeta]]
    Multimodal.spreadForKernel(Tables.documents(spark, dir)
      .select(col("doc_id"),
        (pmod(col("doc_id") * 7, lit(900)) + 100).cast("int").as("frames")))
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, frames) =>
        Multimodal.WavCodec.decode(id,
          Multimodal.WavCodec.encodeWav(frames, sampleRate = 8000, seed = id))
      })
      .toDF()
  }

  /** The binary-column metadata surface (opaque bytes + typed stats —
    * the storage shape multimodal corpora use when the codec runs
    * elsewhere): byte length, content hash, and derived frame-count
    * metadata over a binary column. */
  def binaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("media", col("text").cast("binary"))
      .select(col("doc_id"),
        length(col("media")).cast("long").as("byte_len"),
        sha2(col("media"), 256).as("sha"),
        (expr("length(media) div 100") + 1).cast("int").as("est_frames"))

  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      binaryStats(spark, dir).withColumnRenamed("doc_id", "media_id")
        .withColumn("n_frames", col("est_frames")),
      step = 5)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk" -> (simTopK _),
    "sql_cosine_topk" -> (sqlCosineTopK _),
    "quantized_topk" -> (quantizedTopK _),
    "quantized_rerank_topk" -> (quantizedRerankTopK _),
    "near_dup_cosine" -> (nearDupCosine _),
    "near_dup_cosine_exact" -> (nearDupCosineExact _),
    "lsh_ann" -> (lshAnn _),
    "ivf_ann" -> (ivfAnn _),
    "ann_recall_eval" -> (annRecallEval _),
    "ann_probe_sweep" -> (annProbeSweep _),
    "semantic_dedup" -> (semanticDedup _),
    "pagerank" -> (pagerank _),
    "triangle_count" -> (triangleCount _),
    "k_core" -> (kCore _),
    "embedding_outliers" -> (embeddingOutliers _),
    "minhash_signatures" -> (minhashSigs _),
    "minhash_lsh_candidates" -> (lshCandidates _),
    "simhash" -> (simhash _),
    "multimodal_meta" -> (multimodalMeta _),
    "image_resize" -> (imageResize _),
    "audio_meta" -> (audioMeta _),
    "binary_stats" -> (binaryStats _),
    "multimodal_frames" -> (multimodalFrames _))

  /** One oracle, two surfaces: the Column-API brute force and the
    * SQL-extension form must both equal it. */
  private val simTopKOracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS id,
      |  list_dot_product(q.v, c.v) /
      |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id)
      |SELECT qid, id, cosine, CAST(rank AS INT) AS rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY cosine DESC, id) AS rank FROM s) t
      |WHERE rank <= 5""".stripMargin

  /** One oracle, two plans: blocked and brute force must both equal it. */
  private val nearDupOracle =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3""".stripMargin

  private val shingleCte =
    """tok AS (SELECT doc_id,
      |  regexp_split_to_array(trim(lower(text)), '[ \t\n\r]+') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1),
      |      i -> array_to_string(t[i:i+2], ' '))
      |    ELSE [] END)) AS s FROM tok)""".stripMargin

  private val sigMins = (0 until 8)
    .map(i => s"MIN(md5('$i|' || s)) AS m$i").mkString(", ")

  /** Squared-L2 fragment matching [[graft.operators.Ivf]]'s dist2. */
  private def d2(a: String, b: String) =
    s"list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b) + list_dot_product($b, $b)"

  /** The full deterministic k-means chain shared by the ivf_ann and
    * semantic_dedup oracles: k=8 seed centroids (first by id) → assign
    * (lexicographic tie-break) → one decimal-exact centroid update →
    * re-assign. `a1` is the refined assignment (id, v, cluster_id). */
  private val kmeansCte = {
    val dsumV =
      "CAST(CAST(SUM(CAST(CAST(v[i] AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |init AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) AS cluster_id,
       |    v AS c
       |  FROM (SELECT * FROM e ORDER BY id LIMIT 8)),
       |a0 AS (
       |  SELECT id, v, cluster_id FROM (
       |    SELECT e.id, e.v, i.cluster_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY ${d2("e.v", "i.c")}, i.cluster_id) AS rn
       |    FROM e, init i) t WHERE rn = 1),
       |upd AS (
       |  SELECT cluster_id, i AS pos, $dsumV / COUNT(*) AS m
       |  FROM a0 CROSS JOIN unnest(range(1, len(v) + 1)) AS t(i)
       |  GROUP BY 1, 2),
       |cent AS (SELECT cluster_id, list(m ORDER BY pos) AS c
       |  FROM upd GROUP BY 1),
       |a1 AS (
       |  SELECT id, v, cluster_id FROM (
       |    SELECT e.id, e.v, ct.cluster_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY ${d2("e.v", "ct.c")}, ct.cluster_id) AS rn
       |    FROM e, cent ct) t WHERE rn = 1)""".stripMargin
  }

  /** Two unrolled PageRank iterations over the near-dup pair graph.
    * Constants are interpolated from the SAME Scala doubles the engine
    * uses: `1.0 − 0.85` in binary is not the double `0.15` parses to,
    * so the oracle must print the computed value, not the pretty one. */
  private val pagerankOracle: String = {
    val d = 0.85
    val cosAB = "list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
    // Per-SOURCE quantization: every out-edge of a node carries the
    // identical contribution pr/outdeg, so the expensive
    // double→VARCHAR→DECIMAL(30,10) quantization (the Exact.sql dsum
    // contract's per-addend step) runs once per NODE (20k rows at
    // sf1), and the edge-sized pipeline only hash-joins and sums
    // 128-bit decimals — an exact, associative fold of the same
    // multiset of quantized addends per dst, so the result is
    // bit-identical to quantizing per edge. Profiled before the
    // rewrite: the per-edge cast projection cost 49.5 s of the
    // oracle's 103 s at sf1, single-threaded on a materialized-CTE
    // scan pipeline (DuckDB 1.0 CTE scans don't parallelize); after,
    // the whole oracle is ~9 s at sf1.
    def iter(i: Int, prev: String): String =
      s"""q$i AS (SELECT p.id,
         |    CAST(CAST(p.pr / deg.outdeg AS VARCHAR)
         |      AS DECIMAL(30,10)) AS qc
         |  FROM $prev p JOIN deg ON p.id = deg.src),
         |m$i AS (SELECT ed.dst AS id,
         |    CAST(CAST(SUM(q$i.qc) AS VARCHAR) AS DOUBLE) AS m
         |  FROM ed JOIN q$i ON ed.src = q$i.id GROUP BY 1),
         |pr$i AS (SELECT e.id, ${1.0 - d} / nn.n +
         |    $d * COALESCE(m$i.m, 0.0) AS pr
         |  FROM e CROSS JOIN nn LEFT JOIN m$i ON e.id = m$i.id)"""
        .stripMargin
    // Fence placement is load-bearing twice over. `p` (the pair join,
    // the dominant cost) is referenced twice by `ed` and `ed`/`deg`
    // once per unrolled iteration — unfenced, DuckDB inlines it and
    // re-evaluates the join up to 6 times. But DuckDB 1.0 also scans a
    // MATERIALIZED CTE single-threaded, so the pair join's INPUTS must
    // stay plain or the whole O(n²) probe runs on one core (measured:
    // with `e` fenced the sf10 oracle sat at 1 core for 3h20m and
    // timed out; plain `eu` inputs parallelize the join). Hence: plain
    // `ev`/`eu` feed the join, `p` alone fences its result. The
    // pre-normalized unit vectors make the pair predicate one dot
    // product instead of three, with a margin-safe screen (1e-7 slack
    // vs ~1e-14 FP divergence between u·u-dot and the exact ratio) and
    // the ORIGINAL predicate as the final word — bit-identical output
    // (verified by symmetric EXCEPT at sf0.1).
    s"""WITH ev AS (SELECT vec_id AS id,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |eu AS (SELECT id, v, list_transform(v,
       |  x -> x / sqrt(list_dot_product(v, v))) AS u FROM ev),
       |p AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib FROM eu a
       |  JOIN eu b ON a.id < b.id
       |  WHERE list_dot_product(a.u, b.u) >= 0.2999999
       |    AND $cosAB >= 0.3),
       |e AS MATERIALIZED (SELECT id FROM ev),
       |ed AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM p
       |  UNION ALL SELECT ib AS src, ia AS dst FROM p),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM ed
       |  GROUP BY 1),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM e),
       |pr0 AS (SELECT e.id, 1.0 / nn.n AS pr FROM e CROSS JOIN nn),
       |${iter(1, "pr0")},
       |${iter(2, "pr1")}
       |SELECT id, pr FROM pr2""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "pagerank" -> pagerankOracle,
    // degree-oriented wedge join, ALL-PLAIN CTEs. Three forms were
    // measured before landing here (sf0.1 / projected sf10):
    //  - raw x<y<z 3-way join: 1.1 s, but unoriented wedges blow up
    //    superlinearly at sf10 (~7B rows, 80 GB + 35 GB spill);
    //  - list-dialect adjacency intersect: node-sized state, but
    //    DuckDB's per-element list overhead makes it 30.5 s at sf0.1;
    //  - THIS form: orient every edge low→high by (deg, node) — the
    //    O(√m)-outdegree bound caps wedges at 41M (sf0.1), linear in
    //    SF under replication — and emit each triangle's three corner
    //    contributions through ONE unnest into the node-sized hash
    //    aggregate. 2.3 s at sf0.1 and nothing wedge-sized is ever a
    //    hash BUILD side (ed is the build of both joins; the wedge
    //    stream only probes).
    // ALL of e0/deg/ed are MATERIALIZED — each stage evaluated exactly
    // once. The fence layout went through a measured decision tree:
    //  - all-PLAIN: DuckDB inlines e0 into its 4 references and runs 4
    //    concurrent pair-DISTINCT copies (sf10: 35 GB spill, death);
    //  - e0-only / e0+ed fences: fastest at small SF (3.0 s sf0.1),
    //    but every partially-plain variant re-computes ed per wedge
    //    reference — three concurrent edge-pipeline builds stacked
    //    105 GB RSS at sf10 before the box ran out (observed, killed);
    //  - all-fenced: 9.9 s sf0.1 / 134 s sf1 (outputs bit-identical to
    //    every variant by symmetric EXCEPT ALL), and the sf10 state is
    //    edge-linear (completes inside 10 GB mem + 8 GB spill at sf1).
    // One caveat travels with the fences: above a materialized CTE,
    // DuckDB 1.0's cardinality estimates collapse to 0 and its join-
    // order pass then builds the closure hash join on the 4-billion-
    // row WEDGE stream instead of ed (EXISTS/IN closure rewrites
    // flatten to the same flipped RIGHT_SEMI). The syntactic order
    // below is the correct one — ed is the right-hand (build) side of
    // both wedge joins — so the r14/r15 sf10 compares ran with DuckDB's
    // join_order pass disabled; at the bench SFs the default plan fits
    // and runs as-is. (dkey packs
    // (deg, node) into one BIGINT — deg·2^32 + node — so the
    // wedge-pair predicate is a single int compare; the pack is only
    // order-faithful while node < 2^32 and deg < 2^31, so the final
    // SELECT carries an error()-guard on max(node) — ids beyond the
    // bound fail loud instead of silently corrupting the wedge join.
    // sf100 partkey max ≈ 2·10⁸, three decades inside the bound.)
    // The relational 3-way join remains the spec-scale cross-check
    // (TrianglesSpec pins the census against the naive join in Spark).
    "triangle_count" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
        |  SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        |  GROUP BY 1),
        |ed AS MATERIALIZED (SELECT
        |    CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
        |      THEN e0.a ELSE e0.b END AS src,
        |    CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
        |      THEN e0.b ELSE e0.a END AS dst,
        |    CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
        |      THEN db.deg * 4294967296 + e0.b
        |      ELSE da.deg * 4294967296 + e0.a END AS dkey
        |  FROM e0 JOIN deg da ON da.node = e0.a
        |  JOIN deg db ON db.node = e0.b),
        |t AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |  SELECT unnest([e1.src, e1.dst, e2.dst]) AS node
        |  FROM ed e1 JOIN ed e2
        |    ON e1.src = e2.src AND e1.dkey < e2.dkey
        |  JOIN ed e3 ON e3.src = e1.dst AND e3.dst = e2.dst) u
        |  GROUP BY 1)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN d.deg >= 2
        |    THEN CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE) /
        |      CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
        |FROM deg d LEFT JOIN t ON d.node = t.node
        |WHERE (SELECT CASE WHEN max(node) < 4294967296 THEN TRUE
        |  ELSE error('node id exceeds the dkey pack bound 2^32')
        |  END FROM deg)""".stripMargin,
    // six peels unrolled; per-round CTEs MATERIALIZED (the iterative-
    // oracle rule: DuckDB inlines multiply-referenced stages otherwise)
    "k_core" -> {
      def peelRound(r: Int): String = {
        val prev = s"e${r - 1}"
        s"""d$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
           |  SELECT a AS node FROM $prev
           |  UNION ALL SELECT b AS node FROM $prev) u GROUP BY 1),
           |k$r AS (SELECT node FROM d$r WHERE deg >= 65),
           |e$r AS MATERIALIZED (SELECT a, b FROM $prev
           |  WHERE a IN (SELECT node FROM k$r)
           |    AND b IN (SELECT node FROM k$r))""".stripMargin
      }
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |  FROM lineitem a JOIN lineitem b
         |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |${(1 to 6).map(peelRound).mkString(",\n")}
         |SELECT node, CAST(deg AS BIGINT) AS deg, deg >= 65 AS in_core
         |FROM (SELECT node, COUNT(*) AS deg FROM (
         |  SELECT a AS node FROM e6
         |  UNION ALL SELECT b AS node FROM e6) u GROUP BY 1) f"""
        .stripMargin
    },
    "embedding_outliers" -> {
      val dsumV =
        "CAST(CAST(SUM(CAST(CAST(v[i] AS VARCHAR) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"
      s"""WITH e AS (SELECT vec_id AS id, label AS grp,
         |  embedding::DOUBLE[] AS v FROM embeddings),
         |upd AS (SELECT grp, i AS pos, $dsumV / COUNT(*) AS m
         |  FROM e CROSS JOIN unnest(range(1, len(v) + 1)) AS t(i)
         |  GROUP BY 1, 2),
         |cent AS (SELECT grp, list(m ORDER BY pos) AS c
         |  FROM upd GROUP BY 1),
         |d AS (SELECT e.id, e.grp, ${d2("e.v", "cent.c")} AS sq_dist
         |  FROM e JOIN cent USING (grp))
         |SELECT id, grp, sq_dist, CAST(rank AS INT) AS rank,
         |  rank <= 5 AS is_outlier
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
         |  ORDER BY sq_dist DESC, id) AS rank FROM d)""".stripMargin
    },
    "semantic_dedup" ->
      s"""WITH $kmeansCte,
         |pairs AS (
         |  SELECT a.id AS ia, b.id AS ib
         |  FROM a1 a JOIN a1 b
         |    ON a.cluster_id = b.cluster_id AND a.id < b.id
         |  WHERE list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) *
         |     sqrt(list_dot_product(b.v, b.v))) >= 0.3),
         |k AS (SELECT ib AS id, MIN(ia) AS killer_id FROM pairs
         |  GROUP BY 1)
         |SELECT a1.id, a1.cluster_id, k.killer_id,
         |  k.killer_id IS NULL AS keep
         |FROM a1 LEFT JOIN k USING (id)""".stripMargin,
    "minhash_signatures" ->
      s"""WITH $shingleCte
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  ${(0 until 8).map(i => s"MIN(md5('$i|' || s))")
             .mkString(" || '_' || ")} AS sig_str
         |FROM sh GROUP BY doc_id""".stripMargin,
    "ivf_ann" -> {
      s"""WITH $kmeansCte,
         |probes AS (
         |  SELECT qid, qv, cluster_id FROM (
         |    SELECT q.id AS qid, q.v AS qv, ct.cluster_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id
         |        ORDER BY ${d2("q.v", "ct.c")}, ct.cluster_id) AS rn
         |    FROM e q, cent ct WHERE q.id < 8) t WHERE rn <= 2),
         |scored AS (
         |  SELECT p.qid, p.cluster_id, a.id,
         |    list_dot_product(p.qv, a.v) /
         |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
         |  FROM probes p JOIN a1 a ON p.cluster_id = a.cluster_id
         |  WHERE p.qid != a.id)
         |SELECT qid, cluster_id, id, cosine, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, id) AS rank FROM scored) t
         |WHERE rank <= 5""".stripMargin
    },
    // the ann_recall_eval chain swept over nprobe in {1, 2, 4}: one
    // shared kmeans chain + one shared exact ground truth, one
    // (probes, scored, approx) CTE triple per probe budget
    "ann_probe_sweep" -> {
      def sweep(np: Int) =
        s"""probes$np AS (
           |  SELECT qid, qv, cluster_id FROM (
           |    SELECT q.id AS qid, q.v AS qv, ct.cluster_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.id
           |        ORDER BY ${d2("q.v", "ct.c")}, ct.cluster_id) AS rn
           |    FROM e q, cent ct WHERE q.id < 8) t WHERE rn <= $np),
           |approx$np AS (SELECT qid, id FROM (
           |  SELECT p.qid, a.id,
           |    ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
           |      list_dot_product(p.qv, a.v) /
           |        (sqrt(list_dot_product(p.qv, p.qv)) *
           |         sqrt(list_dot_product(a.v, a.v))) DESC, a.id) AS r
           |  FROM probes$np p JOIN a1 a ON p.cluster_id = a.cluster_id
           |  WHERE p.qid != a.id) t WHERE r <= 5)""".stripMargin
      def leg(np: Int) =
        s"""SELECT $np AS nprobe, ex.qid, COUNT(a.qid) AS n_hit,
           |  CAST(COUNT(a.qid) AS DOUBLE) / CAST(5.0 AS DOUBLE)
           |    AS recall_at_5
           |FROM ex LEFT JOIN approx$np a
           |  ON ex.qid = a.qid AND ex.id = a.id
           |GROUP BY 1, 2""".stripMargin
      s"""WITH $kmeansCte,
         |${Seq(1, 2, 4).map(sweep).mkString(",\n")},
         |ex AS (SELECT qid, id FROM (
         |  SELECT q.id AS qid, c.id,
         |    ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |      list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |      c.id) AS r
         |  FROM e q JOIN e c ON q.id < 8 AND q.id != c.id) t WHERE r <= 5)
         |${Seq(1, 2, 4).map(leg).mkString("\nUNION ALL\n")}""".stripMargin
    },
    // the ivf_ann chain at nprobe=1 and the sim_topk exact chain,
    // joined on (qid, id); n_hit/5 is exactly representable so the
    // recall double is bit-identical cross-engine
    "ann_recall_eval" ->
      s"""WITH $kmeansCte,
         |probes AS (
         |  SELECT qid, qv, cluster_id FROM (
         |    SELECT q.id AS qid, q.v AS qv, ct.cluster_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.id
         |        ORDER BY ${d2("q.v", "ct.c")}, ct.cluster_id) AS rn
         |    FROM e q, cent ct WHERE q.id < 8) t WHERE rn <= 1),
         |scored AS (
         |  SELECT p.qid, a.id,
         |    list_dot_product(p.qv, a.v) /
         |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
         |  FROM probes p JOIN a1 a ON p.cluster_id = a.cluster_id
         |  WHERE p.qid != a.id),
         |approx AS (SELECT qid, id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, id) AS r FROM scored) t WHERE r <= 5),
         |ex AS (SELECT qid, id FROM (
         |  SELECT q.id AS qid, c.id,
         |    ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
         |      list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |      c.id) AS r
         |  FROM e q JOIN e c ON q.id < 8 AND q.id != c.id) t WHERE r <= 5)
         |SELECT ex.qid, COUNT(a.qid) AS n_hit,
         |  CAST(COUNT(a.qid) AS DOUBLE) / CAST(5.0 AS DOUBLE) AS recall_at_5
         |FROM ex LEFT JOIN approx a ON ex.qid = a.qid AND ex.id = a.id
         |GROUP BY 1""".stripMargin,
    "lsh_ann" -> {
      // the exact integer mix behind Similarity.planeComponent, then the
      // same left-to-right dot products — bit-reproducible in DuckDB
      def plane(p: Int) =
        s"""list_transform(range(0, len(v)),
           |    i -> (((i + ${p * 7919 + 13}) * 2654435761) % 104729)
           |      / 104729.0 * 2.0 - 1.0)""".stripMargin
      val bucket = (0 until 4).map(p =>
        s"""CASE WHEN list_dot_product(v, ${plane(p)}) >= 0
           |  THEN ${1 << p} ELSE 0 END""".stripMargin).mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, CAST($bucket AS INT) AS bucket FROM e),
         |s AS (SELECT q.vec_id AS qid, q.bucket, c.vec_id AS id,
         |  list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
         |  FROM b q JOIN b c ON q.bucket = c.bucket
         |    AND q.vec_id < 8 AND q.vec_id != c.vec_id)
         |SELECT qid, bucket, id, cosine, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, id) AS rank FROM s) t
         |WHERE rank <= 5""".stripMargin
    },
    "simhash" -> {
      val bitSums = (0 until 64).map { j =>
        s"""SUM(CASE WHEN (strpos('0123456789abcdef',
           |  substr(md5(tok), ${1 + j / 4}, 1)) - 1) // ${1 << (j % 4)} % 2 = 1
           |  THEN 1 ELSE -1 END) AS b$j""".stripMargin
      }.mkString(",\n  ")
      val bits = (0 until 64)
        .map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r]+')) AS tok
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |  $bitSums
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_id, n_tokens, $bits AS simhash_bits FROM agg""".stripMargin
    },
    "minhash_lsh_candidates" ->
      s"""WITH $shingleCte,
         |sigs AS (SELECT doc_id, $sigMins FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band, m0 || '_' || m1 AS key FROM sigs
         |  UNION ALL SELECT doc_id, 1, m2 || '_' || m3 FROM sigs
         |  UNION ALL SELECT doc_id, 2, m4 || '_' || m5 FROM sigs
         |  UNION ALL SELECT doc_id, 3, m6 || '_' || m7 FROM sigs)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,
    "sim_topk" -> simTopKOracle,
    // same oracle: the SQL-registered cosine_sim must equal the Column
    // API bit-for-bit
    "sql_cosine_topk" -> simTopKOracle,
    // stage 1 (quantized top-20) and stage 2 (exact top-5 among the
    // candidates) both reproduced; candidate ties broken by id
    "quantized_rerank_topk" ->
      """WITH qz AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> round(GREATEST(LEAST(x, 1.0), -1.0) * 127) / 127.0) AS v
        |  FROM embeddings),
        |cand AS (
        |  SELECT qid, id FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(q.v, c.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
        |        DESC, c.vec_id) AS rn
        |    FROM qz q JOIN qz c ON q.vec_id < 8 AND q.vec_id != c.vec_id) t
        |  WHERE rn <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT cand.qid, cand.id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
        |  FROM cand
        |  JOIN e q ON cand.qid = q.vec_id
        |  JOIN e c ON cand.id = c.vec_id)
        |SELECT qid, id, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, id) AS rank FROM scored) t
        |WHERE rank <= 5""".stripMargin,
    // identical clamp/scale/round-half-away/descale on both sides
    "quantized_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> round(GREATEST(LEAST(x, 1.0), -1.0) * 127) / 127.0) AS v
        |  FROM embeddings),
        |s AS (SELECT q.vec_id AS qid, c.vec_id AS id,
        |  list_dot_product(q.v, c.v) /
        |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id != c.vec_id)
        |SELECT qid, id, cosine, CAST(rank AS INT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, id) AS rank FROM s) t
        |WHERE rank <= 5""".stripMargin,
    "near_dup_cosine" -> nearDupOracle,
    "near_dup_cosine_exact" -> nearDupOracle,
    // dimensional contract from doc_id; the no-blending invariant is
    // checked in-engine and compared to literal TRUE
    "image_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 64) + 1 AS INT) AS width,
        |  CAST(((doc_id * 31) % 48) + 1 AS INT) AS height,
        |  CAST(GREATEST(((doc_id % 64) + 1) // 2, 1) AS INT)
        |    AS new_width,
        |  CAST(GREATEST((((doc_id * 31) % 48) + 1) // 2, 1) AS INT)
        |    AS new_height,
        |  TRUE AS nn_pixels_match
        |FROM documents""".stripMargin,
    // expected dims recomputed from doc_id: the Spark row only matches
    // if the real PNG encode→decode preserved them
    "multimodal_meta" ->
      """SELECT doc_id AS media_id, 'png' AS kind,
        |  CAST(doc_id % 64 + 1 AS INT) AS width,
        |  CAST((doc_id * 31) % 48 + 1 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // expected header fields recomputed from doc_id; duration is
    // integer frame/rate arithmetic on both sides
    "audio_meta" ->
      """SELECT doc_id AS media_id, 'wave' AS kind,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  (doc_id * 7) % 900 + 100 AS n_frames,
        |  ((doc_id * 7) % 900 + 100) * 1000 // 8000 AS duration_ms
        |FROM documents""".stripMargin,
    "binary_stats" ->
      """SELECT doc_id,
        |  CAST(octet_length(text::BLOB) AS BIGINT) AS byte_len,
        |  sha256(text) AS sha,
        |  CAST(octet_length(text::BLOB) // 100 + 1 AS INT) AS est_frames
        |FROM documents""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx
        |FROM (SELECT doc_id,
        |  unnest(range(0, octet_length(text::BLOB) // 100 + 1, 5)) AS frame_idx
        |FROM documents) t""".stripMargin)
}
