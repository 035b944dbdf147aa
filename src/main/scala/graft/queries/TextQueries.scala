package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryGroup, Tables}
import graft.operators._

/** Text-analysis + dedup surface over `documents` (SURVEY §7.6). */
object TextQueries extends QueryGroup {

  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextStats(Tables.documents(spark, dir), col("text"))
      .select("doc_id", "n_tokens", "n_chars_calc", "n_stopwords",
        "stopword_ratio", "space_ratio", "est_bpe_tokens")

  /** BPE pre-tokenizer segment count vs whitespace tokens per doc —
    * the "token counting (whitespace + a BPE-ish regex)" pair. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      size(TextStats.tokens(col("text"))).cast("long").as("ws_tokens"),
      TextStats.bpeSegments(col("text")).as("bpe_segments"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    LangId(Tables.documents(spark, dir), col("text"))
      .select("doc_id", "score_en", "score_de", "score_fr", "score_es",
        "lang_pred")

  def fingerprintQ(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Fingerprint.bagFingerprint(col("text")).as("fp"))

  /** Winnowing (MOSS rolling-hash) fingerprint set per document — the
    * containment/overlap detector alongside the whole-doc bag
    * fingerprint. */
  def winnowQ(spark: SparkSession, dir: String): DataFrame =
    Fingerprint.winnowFingerprints(Tables.documents(spark, dir), "doc_id",
      col("text"), n = 3, w = 4)

  /** Format round-trip under the oracle — write (doc_id, source,
    * n_chars) via [[graft.sources.Formats]] with the format inferred
    * from the path extension, read it back with the explicit schema (no
    * inference scan), fold per source; the aggregate must land exactly
    * back on the source table's. One per routed format family: jsonl
    * (the canonical LLM-corpus interchange), tsv (the separator-routed
    * text path), orc (the second columnar format). Long/string columns
    * only: json/csv double formatting is not cross-engine comparable. */
  private def formatRoundtrip(spark: SparkSession, dir: String,
                              ext: String): DataFrame = {
    import graft.sources.Formats
    val path = graft.Scratch.fresh(spark, dir, ext).resolve(s"docs.$ext")
      .toString
    val slim = Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
    Formats.write(slim, path)
    Formats.read(spark, path, schema = Some(slim.schema))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }

  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "jsonl")

  def tsvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "tsv")

  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "orc")

  private val splitWeights =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic hash-based train/val/test assignment per document —
    * reproducible across engines/partitionings/corpus growth. */
  def trainValSplit(spark: SparkSession, dir: String): DataFrame =
    Split.assign(Tables.documents(spark, dir).select("doc_id"),
      col("doc_id"), splitWeights)

  /** Near-dup-cluster-aware split ([[Split.assignByRepresentative]]):
    * the assignment hashes each document's J ≥ 0.5 duplicate-cluster
    * representative (its own id outside any cluster), so a near-copy
    * of a training doc can never land in val/test — the leakage a
    * plain per-id split allows. Shares the persisted candidate-pair
    * cache with the dedup battery. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    Split.assignByRepresentative(
      Tables.documents(spark, dir).select("doc_id")
        .join(dedupComponents(spark, dir), Seq("doc_id"), "left"),
      col("doc_id"), col("component"), splitWeights)
      .select("doc_id", "rep", "split")

  /** Soft-dedup sampling weights ([[Components.memberWeights]]):
    * 1/|cluster| per member, 1.0 for singletons — the keep-everything
    * alternative to corpus_clean's drop-the-copies, with each distinct
    * work contributing equally to the sampled mix. */
  def clusterSizeWeights(spark: SparkSession, dir: String): DataFrame =
    Components.memberWeights(Tables.documents(spark, dir), "doc_id",
      candidatePairs(spark, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_size"), col("weight"))

  /** Weighted Bernoulli thinning by the soft-dedup weights
    * ([[Resample.byWeight]] ∘ [[Components.memberWeights]]): one
    * expected survivor per duplicate cluster, singletons always kept —
    * hard dedup's yield, without biasing WHICH member survives. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Resample.byWeight(clusterSizeWeights(spark, dir), col("doc_id"),
      col("weight"))

  /** Deterministic k-without-replacement sample per source
    * ([[Sample.fixedPerGroup]]): the bounded-output eval-subset /
    * inspection-sample cut, reproducible across engines. */
  def groupSample(spark: SparkSession, dir: String): DataFrame =
    Sample.fixedPerGroup(
      Tables.documents(spark, dir).select("doc_id", "source"),
      col("doc_id"), col("source"), k = 20)

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), col("doc_id"), col("text"))

  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.byFingerprint(Tables.documents(spark, dir), col("doc_id"),
      col("text"))

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id",
      col("text"), n = 3, minJaccard = 0.05)

  /** The J ≥ 0.5 candidate-pair subplan SHARED by `dedup_components`
    * and `edit_distance` — pair generation (shingle self-join + Jaccard)
    * is by far the most expensive step of the dedup pipeline, and both
    * downstream consumers need exactly the same pairs, so it is
    * persisted: Spark's cache manager plan-matches the identical
    * analyzed plan across the two queries and generation runs ONCE
    * (warmed eagerly by the bench, like the shingle cache). */
  def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id",
      col("text"), n = 3, minJaccard = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Pairs → duplicate clusters: connected components over the n-gram
    * Jaccard graph (J ≥ 0.5), the keeper-selection step of a real dedup
    * pipeline. Oracle: DuckDB recursive CTE computing min reachable id. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Components.connected(candidatePairs(spark, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component"))

  /** The 100 TB code path of [[dedupComponents]] under the oracle:
    * `localThreshold = 0` forces the DISTRIBUTED min-label loop (no
    * driver union-find) and `checkpointDir` selects RELIABLE
    * checkpoint() per round — the executor-loss-survivable mode a real
    * cluster runs — so the iterative join loop, lineage truncation,
    * and per-round checkpoint-file cleanup all execute end to end
    * against the same recursive-CTE oracle. Shares the persisted
    * candidate-pair cache with the other dedup consumers. */
  def dedupComponentsDist(spark: SparkSession, dir: String): DataFrame = {
    // reliable-checkpoint SCRATCH: prefer tmpfs when the box has it —
    // the point of this twin is exercising the reliable-checkpoint CODE
    // PATH (file write + lineage cut), not local disk latency; on a
    // cluster this path is HDFS/object storage anyway
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        graft.Scratch.fresh(spark, dir, "ccdist", shm.toString)
      else graft.Scratch.fresh(spark, dir, "ccdist")
    Components.connected(candidatePairs(spark, dir), "doc_a", "doc_b",
      checkpointDir = Some(ckpt.toString), localThreshold = 0)
      .select(col("id").as("doc_id"), col("component"))
  }

  /** The dedup pipeline's actual end product: one row per duplicate
    * CLUSTER with its size and keeper id ([[Components.clusters]] over
    * the shared J ≥ 0.5 candidate pairs) — what a corpus clean joins
    * back against to drop the non-keepers. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Components.clusters(candidatePairs(spark, dir), "doc_a", "doc_b")

  /** Quality-aware cluster canonicalization: keep each near-dup
    * cluster's LONGEST member (token count as the quality score, min
    * id on ties) — the "keep the best copy" convention real corpus
    * cleans use, vs [[dedupClusters]]' min-id keeper
    * ([[Components.bestKeepers]] over the shared J ≥ 0.5 pairs). */
  def dedupBestKeeper(spark: SparkSession, dir: String): DataFrame =
    Components.bestKeepers(candidatePairs(spark, dir), "doc_a", "doc_b",
      scores = Tables.documents(spark, dir).select(col("doc_id"),
        size(split(trim(lower(col("text"))), "[ \\t\\n\\r]+")).cast("long")
          .as("n_tokens")),
      idCol = "doc_id", scoreCol = "n_tokens")

  /** Candidate verification by edit distance: the n-gram Jaccard
    * near-dup pairs re-checked with full Levenshtein — the expensive
    * exact measure applied ONLY to the pruned candidate set (the
    * candidates→verify shape every dedup pipeline ends with). */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    candidatePairs(spark, dir)
      .select("doc_a", "doc_b")
      .join(d.select(col("doc_id").as("doc_a"), col("text").as("__ta")),
        "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("text").as("__tb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // banded iterative-deepening Levenshtein: bit-identical to the
        // builtin full DP (LevenshteinSpec pins equality), O(d·n)
        // instead of O(n·m) per pair — d is tiny on J ≥ 0.5 candidates
        graft.functions.LevenshteinFunctions
          .bandedLevenshtein(col("__ta"), col("__tb")).as("edit_dist"))
  }

  /** Repetition detection (the Gopher-family quality rule, public
    * knowledge: a document dominated by one repeated n-gram is
    * boilerplate/spam): per doc, the most frequent 3-gram's share of
    * all 3-gram occurrences (NOT distinct — repetition is the point).
    * One window shuffle builds shingles, two aggregates fold them. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    Fingerprint.explodedShingles(
        Tables.documents(spark, dir), "doc_id", col("text"), n = 3)
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("__cnt"))
      .groupBy("doc_id")
      .agg(sum(col("__cnt")).as("n_shingles"),
        max(col("__cnt")).as("top_shingle_n"))
      .withColumn("repetition_ratio",
        col("top_shingle_n") / col("n_shingles"))

  /** Sequence packing via the distributed two-pass prefix sum
    * ([[graft.operators.SequencePack]]): parallelism scales with
    * sources × buckets, not distinct sources — the form that survives a
    * corpus of three giant shards. Values are identical to a naive
    * per-source cumsum (associativity), which is what the oracle pins. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SequencePack.pack(
      Tables.documents(spark, dir),
      col("doc_id"), col("source"),
      size(TextStats.tokens(col("text"))),
      seqLen = 256)

  def textChunks(spark: SparkSession, dir: String): DataFrame =
    Chunker.chunk(Tables.documents(spark, dir), col("doc_id"), col("text"),
      size = 200, overlap = 40)

  /** Higher-order array-function battery — lambdas stay inside codegen
    * (no UDFs): `filter` (long-token count), `transform`+`aggregate`
    * (character fold over token lengths), `exists` (digit detection).
    * The engine uses these internally (e.g. [[graft.operators
    * .Similarity]]'s vector normalization); this puts the lambda
    * surface itself under the oracle. Integer-only outputs — exact on
    * both engines. */
  def hofFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("__t", TextStats.tokens(col("text")))
      .select(col("doc_id"),
        size(filter(col("__t"), t => length(t) > 5)).cast("long")
          .as("n_long_tokens"),
        aggregate(transform(col("__t"), t => length(t).cast("long")),
          lit(0L), (acc, n) => acc + n).as("token_chars"),
        when(exists(col("__t"), t => t.rlike("[0-9]")), 1).otherwise(0)
          .cast("int").as("has_digit"))

  /** The verdict battery itself, over any documents-shaped frame —
    * pure stateless projections, so it runs identically on a batch
    * table, on a streaming micro-batch (`stream_quality_filter` feeds it
    * a file stream) and in the `text_quality` pipeline step, which
    * passes its own id/text columns and token bounds. */
  def qualityVerdict(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", minTokens: Long = 20L,
                     maxTokens: Long = 500L): DataFrame = {
    val scored = LangId(TextStats(docs, col(textCol)), col(textCol))
    scored.select(
      col(idCol),
      col("n_tokens"), col("stopword_ratio"), col("lang_pred"),
      when(col("n_tokens") < minTokens, "too_short")
        .when(col("n_tokens") > maxTokens, "too_long")
        .when(col("stopword_ratio") < 0.01, "no_stopwords")
        .when(col("lang_pred") =!= "en", "not_english")
        .otherwise("keep").as("verdict"))
  }

  /** The composed training-data quality filter: stats + language ID
    * fused into one keep/drop decision with a reason column — the query
    * shape an actual corpus-cleaning pipeline runs. One pass, all
    * codegen projections, then a single filter. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityVerdict(Tables.documents(spark, dir))

  /** The published Gopher rule battery ([[GopherRules]]) over the
    * documents table. The synthetic corpus is single-line word salad —
    * no bullets, ellipses or symbols — so the query first DECORATES
    * the text deterministically by doc_id residue (bulletified lines,
    * `...`-terminated lines, `#` symbol noise, digit-word injection);
    * the oracle applies the identical literal `replace` chain, so
    * every rule fires with real counts on both engines instead of
    * comparing structural zeros. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    // Spread.up: the decorate + rule battery is a heavy regex kernel
    // over whole docs — single-threaded on a one-split scan otherwise
    val docs = Spread.up(Tables.documents(spark, dir), col("doc_id"))
    val m = pmod(col("doc_id"), lit(6))
    val decorated = docs.withColumn("__t",
      when(m === 0, regexp_replace(col("text"), lit(" table "),
        lit("\n- table ")))
        .when(m === 1, regexp_replace(col("text"), lit(" scan "),
          lit("...\n")))
        .when(m === 2, concat(col("text"), lit("...")))
        .when(m === 3, regexp_replace(col("text"), lit(" agg "),
          lit(" # agg # ")))
        .when(m === 4, regexp_replace(col("text"), lit(" value "),
          lit(" 123 456 ")))
        .otherwise(col("text")))
    GopherRules(decorated, col("__t"), minWords = 30,
      minStopDistinct = 1)
      .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "n_lines", "bullet_line_ratio", "ellipsis_line_ratio",
        "alpha_word_ratio", "n_stop_distinct", "verdict")
  }

  /** The composed corpus-cleaning flagship: quality filter → exact-dedup
    * keeper selection in ONE plan. Every doc comes back with its quality
    * verdict, its dup-group keeper (among quality-keeps; -1 when the doc
    * itself was dropped), and the final keep decision a training-data
    * pipeline would act on. Shapes: one projection battery (codegen),
    * one window over md5(text) — a single shuffle by hash key. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__md5")
    val scored = qualityFilter(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("__md5")), "doc_id")
    scored
      .withColumn("keeper",
        when(col("verdict") === "keep",
          min(when(col("verdict") === "keep", col("doc_id"))).over(w))
          .otherwise(lit(-1L)))
      .withColumn("final_keep",
        col("verdict") === "keep" && col("keeper") === col("doc_id"))
      .select("doc_id", "verdict", "keeper", "final_keep")
  }

  /** Per-source token budget under the oracle: admit docs in doc_id
    * order until 1k tokens per source are spent — sized so the cap
    * BITES at every SF (sources hold ~1.5k tokens at sf0.001), keeping
    * both verdicts under test
    * ([[graft.operators.Budget.capTokens]], the two-pass prefix form —
    * the oracle pins it against the naive per-source running cumsum). */
  def tokenBudgetCap(spark: SparkSession, dir: String): DataFrame =
    Budget.capTokens(Tables.documents(spark, dir), col("doc_id"),
      col("source"), size(TextStats.tokens(col("text"))), budget = 1000L)

  /** Per-source quality floor under the oracle: drop each source's
    * bottom token-count quartile ([[graft.operators.Budget
    * .percentileFilter]]); the oracle is DuckDB's native percent_rank
    * over the same total order, pinning the two-pass rank
    * decomposition AND the (rank−1)/(n−1) double. */
  def qualityPercentileFilter(spark: SparkSession, dir: String): DataFrame =
    Budget.percentileFilter(Tables.documents(spark, dir), col("doc_id"),
      col("source"),
      // cast HERE, not in the operator: percentileFilter ranks the
      // score in its original numeric type (fractional scores are
      // legal); this query's score is an integer token count and the
      // oracle declares it BIGINT
      size(TextStats.tokens(col("text"))).cast("long"), minPct = 0.25)

  /** BPE merge learning under the oracle ([[graft.operators.Bpe]]):
    * six induction rounds over the documents word histogram, the
    * oracle unrolling the identical argmax/apply recurrence in CTE
    * stages (the pagerank/kmeans unrolling discipline). */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    Bpe.learnMerges(Tables.documents(spark, dir), col("text"), rounds = 6)

  /** The learned merges applied back to the corpus ([[graft.operators
    * .Bpe.segmentCounts]]): per-doc word count and post-merge BPE
    * symbol count — the token arithmetic a budgeting/packing step runs
    * once a real tokenizer exists. The merge list is re-learned here
    * (constant driver value) so the query is self-contained. */
  def bpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.learnMerges(docs, col("text"), rounds = 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.segmentCounts(docs, col("doc_id"), col("text"), merges)
      .withColumnRenamed("id", "doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_learn" -> (bpeLearn _),
    "bpe_segment" -> (bpeSegment _),
    "token_budget_cap" -> (tokenBudgetCap _),
    "quality_percentile_filter" -> (qualityPercentileFilter _),
    "quality_filter" -> (qualityFilter _),
    "gopher_rules" -> (gopherRules _),
    "hof_funcs" -> (hofFuncs _),
    "text_chunks" -> (textChunks _),
    "text_stats" -> (textStats _),
    "bpe_token_count" -> (bpeTokens _),
    "lang_id" -> (langId _),
    "text_fingerprint" -> (fingerprintQ _),
    "winnow_fingerprint" -> (winnowQ _),
    "train_val_split" -> (trainValSplit _),
    "repetition_ratio" -> (repetitionRatio _),
    "sequence_pack" -> (sequencePack _),
    "jsonl_roundtrip" -> (jsonlRoundtrip _),
    "tsv_roundtrip" -> (tsvRoundtrip _),
    "orc_roundtrip" -> (orcRoundtrip _),
    "dedup_exact" -> (dedupExact _),
    "dedup_fingerprint" -> (dedupFingerprint _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_dist" -> (dedupComponentsDist _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_best_keeper" -> (dedupBestKeeper _),
    "leakage_safe_split" -> (leakageSafeSplit _),
    "cluster_size_weights" -> (clusterSizeWeights _),
    "weighted_sample" -> (weightedSample _),
    "group_sample" -> (groupSample _),
    "corpus_clean" -> (corpusClean _),
    "edit_distance" -> (editDistance _),
    "decontaminate" -> (decontaminate _),
    "cross_corpus_dedup" -> (crossCorpusDedup _),
    "corpus_drift" -> (corpusDrift _),
    "oov_rate" -> (oovRate _),
    "stratified_sample" -> (stratifiedSample _))

  /** Benchmark decontamination under the oracle: every 10th doc plays
    * the held-out eval set; the rest of the corpus is flagged on 8-gram
    * overlap with it ([[graft.operators.Decontaminate]]). Only per-doc
    * distinct-overlap COUNTS are emitted (Spark counts 64-bit shingle
    * hashes, DuckDB counts the n-gram strings — same counts, the
    * dedup_jaccard equivalence). The test corpus's J≥0.5 near-dup
    * clusters guarantee nonzero contamination, so the query exercises
    * both outcomes. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    Decontaminate.flag(
      corpus = d.filter(col("doc_id") % 10 =!= 0),
      benchmark = d.filter(col("doc_id") % 10 === 0),
      idCol = "doc_id", text = col("text"), n = 8)
  }

  /** Cross-corpus dedup under the oracle: every 7th doc plays the
    * REFERENCE corpus (yesterday's training set), the rest the new
    * crawl; each new doc reports its best reference match at J ≥ 0.5
    * ([[graft.operators.Dedup.crossCorpusBest]]). The corpus's J≥0.5
    * near-dup clusters guarantee nonzero matches, so both the hit and
    * miss paths execute. Spark counts 64-bit shingle hashes, DuckDB
    * the n-gram strings — equal distinct counts (the dedup_jaccard
    * equivalence). */
  def crossCorpusDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    Dedup.crossCorpusBest(
      newDf = d.filter(col("doc_id") % 7 =!= 0),
      refDf = d.filter(col("doc_id") % 7 === 0),
      idCol = "doc_id", text = col("text"), n = 3, minJaccard = 0.5)
  }

  /** Corpus drift audit under the oracle: the %7 reference/new split
    * again; top 50 most over-represented terms in the new side by
    * Laplace-smoothed probability ratio over the shared vocabulary
    * ([[graft.operators.Drift.termDrift]]) — transcendental-free, so
    * every probability and ratio is bit-identical cross-engine. */
  def corpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.operators.Drift.termDrift(
      newDf = d.filter(col("doc_id") % 7 =!= 0),
      refDf = d.filter(col("doc_id") % 7 === 0),
      text = col("text"), topK = 50)
  }

  /** Per-source OOV rate under the oracle: the %7 reference/new split;
    * fraction of each new source's token occurrences absent from the
    * reference vocabulary ([[graft.operators.Drift.oovRate]]). */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    graft.operators.Drift.oovRate(
      newDf = d.filter(col("doc_id") % 7 =!= 0),
      refDf = d.filter(col("doc_id") % 7 === 0),
      text = col("text"), source = col("source"))
  }

  /** Deterministic stratified sampling under the oracle: language as
    * the stratum (en kept at 50%, de at 25%, everything else 10%),
    * md5-threshold membership reproduced verbatim in SQL
    * ([[graft.operators.Sample]]). */
  private val sampleRates = Map("en" -> 0.5, "de" -> 0.25)
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sample.stratified(Tables.documents(spark, dir),
      col("doc_id"), col("lang"), sampleRates, defaultRate = 0.1)
      .select("doc_id", "lang", "sampled")

  private val toks = "regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r]+')"

  /** The BPE learning recurrence as a CTE prefix (w, s0, p1..m1..s6 —
    * shared by bpe_learn and bpe_segment). Per-round stages are
    * AS MATERIALIZED: DuckDB otherwise inlines each stage's upstream
    * tree once per reference — exponential in rounds (measured >120 s
    * vs 0.15 s at sf0.001). */
  private lazy val bpeLearnCtes: String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT l[i] AS lhs, l[i + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, string_split(trim(seg), '  ') AS l
         |        FROM $prev) t
         |  CROSS JOIN unnest(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2),
         |m$r AS (SELECT lhs, rhs, n FROM p$r
         |  ORDER BY n DESC, lhs, rhs LIMIT 1),
         |s$r AS MATERIALIZED (SELECT w, freq, replace(seg,
         |    ' ' || (SELECT lhs FROM m$r) || '  ' ||
         |      (SELECT rhs FROM m$r) || ' ',
         |    ' ' || (SELECT lhs FROM m$r) ||
         |      (SELECT rhs FROM m$r) || ' ') AS seg
         |  FROM $prev)""".stripMargin
    }
    // every s-stage carries the WORD through (vocab-sized either way):
    // bpe_segment joins occurrences to the final segmented vocab
    // instead of re-segmenting per occurrence
    s"""w AS (SELECT t AS w, COUNT(*) AS freq
       |  FROM (SELECT unnest($toks) AS t FROM documents) u
       |  WHERE t <> '' GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, freq,
       |  '  ' || array_to_string(string_split(w, ''), '  ') || '  '
       |    AS seg FROM w),
       |${(1 to 6).map(round).mkString(",\n")}""".stripMargin
  }

  /** Shared CTE prefix: the quality-filter verdict per doc (also the
    * base of the corpus_clean oracle). */
  private def qualityCte: String = {
    val sw = TextStats.defaultStopwords.map(s => s"'$s'").mkString(",")
    val scores = LangId.markers.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter($toks, x -> x IN ($in))) AS BIGINT) AS score_$l"
    }.mkString(", ")
    s"""s AS (
       |  SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    len(list_filter($toks, x -> x IN ($sw))) / len($toks) AS stopword_ratio,
       |    $scores
       |  FROM documents),
       |l AS (
       |  SELECT *, CASE
       |    WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       |    WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       |    WHEN score_fr >= score_es THEN 'fr'
       |    ELSE 'es' END AS lang_pred
       |  FROM s),
       |v AS (
       |  SELECT doc_id, n_tokens, stopword_ratio, lang_pred,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN n_tokens > 500 THEN 'too_long'
       |         WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
       |         WHEN lang_pred != 'en' THEN 'not_english'
       |         ELSE 'keep' END AS verdict
       |  FROM l)""".stripMargin
  }

  /** The cluster_size_weights oracle body, shared with
    * weighted_sample. */
  private def clusterWeightsOracle: String =
    s"""WITH comp AS MATERIALIZED ($componentsOracle),
       |sz AS (SELECT component, COUNT(*) AS n FROM comp GROUP BY 1),
       |m AS (SELECT doc_id, n FROM comp JOIN sz USING (component))
       |SELECT d.doc_id,
       |  CAST(COALESCE(m.n, 1) AS BIGINT) AS cluster_size,
       |  CAST(1.0 AS DOUBLE) / CAST(COALESCE(m.n, 1) AS DOUBLE)
       |    AS weight
       |FROM documents d LEFT JOIN m USING (doc_id)""".stripMargin

  /** Min-reachable-id ground truth for connected components (recursive
    * CTE) — shared by both dedup_components variants.
    *
    * `sym AS MATERIALIZED` is the sf10 evaluation fence (the k_core
    * "iterative-oracle rule"): DuckDB INLINES non-materialized CTEs
    * per reference, and `sym` sits inside the recursive step — inlined,
    * the whole shingle posting join re-evaluates EVERY reach iteration
    * (measured: >96 GB memory + 28 GB spill at sf10; materialized, sym
    * is a pair-count-sized table computed once). */
  private def componentsOracle: String =
    s"""WITH RECURSIVE
       |tok AS (SELECT doc_id, $toks AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |  CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1),
       |      i -> array_to_string(t[i:i+2], ' '))
       |    ELSE [] END)) AS s FROM tok),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE n_common / (sa.n + sb.n - n_common) >= 0.5),
       |sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT u, u FROM sym
       |  UNION
       |  SELECT sym.u, reach.r FROM sym JOIN reach ON sym.v = reach.id)
       |SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id""".stripMargin

  def oracles: Map[String, String] = Map(
    "quality_filter" ->
      s"""WITH $qualityCte
         |SELECT doc_id, n_tokens, stopword_ratio, lang_pred, verdict
         |FROM v""".stripMargin,
    // line predicates avoid (?m) anchors on BOTH sides (Java's
    // MULTILINE $ matches before \r and U+2028, RE2's only before \n);
    // '\n' enters the RE2 pattern via chr(10) concat because standard
    // single-quoted SQL has no escapes
    "gopher_rules" -> {
      val t2 = "regexp_split_to_array(trim(lower(t)), '[ \\t\\n\\r]+')"
      val stops = GopherRules.stopSet
        .map(s => s"CAST(list_contains($t2, '$s') AS INT)").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, CASE doc_id % 6
         |    WHEN 0 THEN replace(text, ' table ', chr(10) || '- table ')
         |    WHEN 1 THEN replace(text, ' scan ', '...' || chr(10))
         |    WHEN 2 THEN text || '...'
         |    WHEN 3 THEN replace(text, ' agg ', ' # agg # ')
         |    WHEN 4 THEN replace(text, ' value ', ' 123 456 ')
         |    ELSE text END AS t FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len($t2) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(trim(t), '[ \\t\\n\\r]+', '', 'g'))
         |    AS BIGINT) AS word_chars,
         |  CAST(length(t) - length(replace(t, '#', ''))
         |    + len(regexp_extract_all(t, '\\.\\.\\.')) AS BIGINT)
         |    AS n_symbols,
         |  CAST(len(str_split(t, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(regexp_extract_all(t,
         |    '(?:^|' || chr(10) || ')[ \\t]*[-*\u2022]')) AS BIGINT)
         |    AS n_bullets,
         |  CAST(len(regexp_extract_all(t, '\\.\\.\\.' || chr(10)))
         |    + CASE WHEN t LIKE '%...' THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_ell_lines,
         |  CAST(len(regexp_extract_all(trim(lower(t)),
         |    '(?:^|[ \\t\\n\\r])[^ \\t\\n\\r]*[a-z]')) AS BIGINT)
         |    AS n_alpha,
         |  CAST($stops AS INT) AS n_stop_distinct
         |FROM d),
         |r AS (SELECT doc_id, n_words,
         |  CAST(word_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS mean_word_len,
         |  CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS symbol_word_ratio,
         |  n_lines,
         |  CAST(n_bullets AS DOUBLE) / CAST(n_lines AS DOUBLE)
         |    AS bullet_line_ratio,
         |  CAST(n_ell_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
         |    AS ellipsis_line_ratio,
         |  CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS alpha_word_ratio,
         |  n_stop_distinct FROM m)
         |SELECT *,
         |  CASE WHEN n_words < 30 THEN 'too_few_words'
         |    WHEN n_words > 100000 THEN 'too_many_words'
         |    WHEN mean_word_len < 3.0 THEN 'short_words'
         |    WHEN mean_word_len > 10.0 THEN 'long_words'
         |    WHEN symbol_word_ratio > 0.1 THEN 'symbol_heavy'
         |    WHEN bullet_line_ratio > 0.9 THEN 'bullet_heavy'
         |    WHEN ellipsis_line_ratio > 0.3 THEN 'ellipsis_heavy'
         |    WHEN alpha_word_ratio < 0.8 THEN 'non_alpha'
         |    WHEN n_stop_distinct < 1 THEN 'no_stopwords'
         |    ELSE 'keep' END AS verdict
         |FROM r""".stripMargin
    },
    "corpus_clean" ->
      s"""WITH $qualityCte,
         |m AS (SELECT doc_id, md5(text) AS m5 FROM documents)
         |SELECT v.doc_id, verdict,
         |  CASE WHEN verdict = 'keep'
         |    THEN MIN(CASE WHEN verdict = 'keep' THEN v.doc_id END)
         |      OVER (PARTITION BY m5)
         |    ELSE -1 END AS keeper,
         |  (verdict = 'keep' AND v.doc_id =
         |    MIN(CASE WHEN verdict = 'keep' THEN v.doc_id END)
         |      OVER (PARTITION BY m5)) AS final_keep
         |FROM v JOIN m ON v.doc_id = m.doc_id""".stripMargin,
    "text_chunks" ->
      """SELECT doc_id AS id,
        |  CAST((s - 1) // 160 AS INT) AS chunk_idx,
        |  substring(text, CAST(s AS INT), 200) AS chunk_text,
        |  CAST(length(substring(text, CAST(s AS INT), 200)) AS INT) AS chunk_len
        |FROM (SELECT doc_id, text,
        |  unnest(range(1, greatest(length(text) - 40, 1) + 1, 160)) AS s
        |  FROM documents) t""".stripMargin,
    // same lambda shapes in DuckDB's list dialect; all-integer outputs
    "hof_funcs" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter($toks, x -> len(x) > 5)) AS BIGINT)
         |    AS n_long_tokens,
         |  CAST(list_sum(list_transform($toks, x -> len(x))) AS BIGINT)
         |    AS token_chars,
         |  CAST(CASE WHEN len(list_filter($toks,
         |      x -> regexp_matches(x, '[0-9]'))) > 0
         |    THEN 1 ELSE 0 END AS INT) AS has_digit
         |FROM documents""".stripMargin,
    "text_stats" -> {
      val sw = TextStats.defaultStopwords.map(s => s"'$s'").mkString(",")
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(len(list_filter($toks, x -> x IN ($sw))) AS BIGINT) AS n_stopwords,
         |  len(list_filter($toks, x -> x IN ($sw))) / len($toks) AS stopword_ratio,
         |  (length(text) - length(replace(text, ' ', ''))) / length(text) AS space_ratio,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
         |FROM documents""".stripMargin
    },
    "lang_id" -> {
      val scores = LangId.markers.map { case (l, ws) =>
        val in = ws.map(w => s"'$w'").mkString(",")
        s"CAST(len(list_filter($toks, x -> x IN ($in))) AS BIGINT) AS score_$l"
      }.mkString(",\n  ")
      s"""SELECT doc_id, score_en, score_de, score_fr, score_es,
         |  CASE
         |    WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |    WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |    WHEN score_fr >= score_es THEN 'fr'
         |    ELSE 'es' END AS lang_pred
         |FROM (SELECT doc_id, $scores FROM documents) s""".stripMargin
    },
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
         |FROM documents""".stripMargin,
    // each round-trip must land exactly back on the source aggregate
    "jsonl_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "tsv_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "orc_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // NON-distinct 3-gram occurrence counts (repetition is the signal)
    "repetition_ratio" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
         |  FROM tok CROSS JOIN unnest(range(1, len(t) - 1)) AS u(i)),
         |cnt AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
         |  MAX(c) AS top_shingle_n,
         |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |    AS repetition_ratio
         |FROM cnt GROUP BY 1""".stripMargin,
    // six BPE rounds unrolled: per round a pair-frequency aggregate
    // over the double-space segmentation encoding, the deterministic
    // argmax, and the leftmost-nonoverlapping replace() apply — the
    // byte-identical recurrence the engine runs (see operators.Bpe)
    "bpe_learn" ->
      s"""WITH $bpeLearnCtes
         |${(1 to 6).map(r =>
           s"""SELECT CAST($r AS INT) AS merge_rank, lhs, rhs,
              |  lhs || rhs AS merged, n FROM m$r""".stripMargin)
           .mkString("\nUNION ALL\n")}""".stripMargin,
    // the learned merges (same m1..m6 CTEs) applied back to the corpus
    // — the tokenizer's "encode" side. Segmentation happens once per
    // DISTINCT word (the s6 vocab table the learn side already built;
    // replace() is a pure function of the word), and occurrences JOIN
    // the segmented vocab — the old per-occurrence t0..t6 stages
    // materialized 7 occurrence-sized tables and spilled >28 GB at
    // sf10; this form's occurrence-sized work is one streamed join
    "bpe_segment" ->
      s"""WITH $bpeLearnCtes,
         |wc AS MATERIALIZED (SELECT w,
         |  CAST(len(string_split(trim(seg), '  ')) AS BIGINT) AS c
         |  FROM s6)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(c) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id, t AS wd
         |      FROM (SELECT doc_id, unnest($toks) AS t FROM documents) u
         |      WHERE t <> '') occ
         |JOIN wc ON occ.wd = wc.w GROUP BY 1""".stripMargin,
    // the naive per-source running cumsum the two-pass form must equal
    // (windowed SUM(BIGINT) is HUGEINT in DuckDB → cast back)
    "token_budget_cap" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT *, CAST(SUM(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_end
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_end,
         |  cum_end <= 1000 AS kept
         |FROM c""".stripMargin,
    // native percent_rank over the same total order: pins the two-pass
    // rank decomposition and the (rank-1)/(n-1) double
    "quality_percentile_filter" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($toks) AS BIGINT) AS score FROM documents)
         |SELECT doc_id, source, score,
         |  percent_rank() OVER (PARTITION BY source
         |    ORDER BY score, doc_id) AS pct_rank,
         |  percent_rank() OVER (PARTITION BY source
         |    ORDER BY score, doc_id) >= 0.25 AS kept
         |FROM t""".stripMargin,
    // concat-then-chunk coordinates: same ordering, same integer
    // cumsum/div/mod on both sides
    "sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST(s // 256 AS BIGINT) AS pack_id,
         |  CAST(s % 256 AS BIGINT) AS pack_offset
         |FROM c""".stripMargin,
    // identical md5-hex thresholds on both sides (Split.sqlCase)
    "train_val_split" ->
      s"""SELECT doc_id, ${Split.sqlCase("doc_id", splitWeights)} AS split
         |FROM documents""".stripMargin,
    // same segment regex (no lookahead → Java and RE2 agree); SQL
    // single quotes doubled
    "bpe_token_count" -> {
      val pat = TextStats.bpeSegmentPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)
         |    AS bpe_segments
         |FROM documents""".stripMargin
    },
    // winnowing: per-position shingle md5s, 4-wide ROWS-frame minimum,
    // full windows only, distinct kept values
    "winnow_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (
         |  SELECT doc_id, i, md5(array_to_string(t[i:i+2], ' ')) AS h
         |  FROM tok CROSS JOIN unnest(range(1, len(t) - 1)) AS u(i))
         |SELECT DISTINCT doc_id, fp FROM (
         |  SELECT doc_id,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
         |  FROM sh) s
         |WHERE rn >= 4""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_fingerprint" ->
      s"""SELECT md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp,
         |  COUNT(*) AS n_docs, MIN(doc_id) AS keeper
         |FROM documents GROUP BY 1""".stripMargin,
    // same truth for the hybrid (union-find) and forced-distributed
    // (reliable-checkpoint loop) variants — one oracle, two code paths
    "dedup_components" -> componentsOracle,
    "dedup_components_dist" -> componentsOracle,
    "dedup_clusters" ->
      s"""WITH comp AS MATERIALIZED ($componentsOracle)
         |SELECT component, COUNT(*) AS n_members, MIN(doc_id) AS keeper
         |FROM comp GROUP BY 1""".stripMargin,
    // same split thresholds as train_val_split, keyed on the cluster
    // representative (own id outside any cluster)
    "leakage_safe_split" ->
      s"""WITH comp AS MATERIALIZED ($componentsOracle)
         |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep,
         |  ${Split.sqlCase("COALESCE(c.component, d.doc_id)",
                            splitWeights)} AS split
         |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin,
    // 1/|cluster| — one double division of an exact integer
    "cluster_size_weights" -> clusterWeightsOracle,
    // Bernoulli(weight) keep via the shared md5-hex threshold — the
    // predicate arithmetic is byWeight's, verbatim
    "weighted_sample" ->
      s"""WITH w AS ($clusterWeightsOracle)
         |SELECT doc_id, cluster_size, weight FROM w
         |WHERE ${Resample.byWeightPredicateSql("doc_id", "weight")}"""
        .stripMargin,
    // same salted-hash order statistic on both sides
    "group_sample" ->
      s"""SELECT * FROM (
         |  SELECT doc_id, source,
         |    ${Sample.fixedPerGroupRankSql("doc_id", "source")}
         |      AS sample_rank
         |  FROM documents) t WHERE sample_rank <= 20""".stripMargin,
    "dedup_best_keeper" ->
      s"""WITH comp AS MATERIALIZED ($componentsOracle),
         |tk AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (SELECT component, c.doc_id, n_tokens,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |      ORDER BY n_tokens DESC, c.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY component) AS n_members
         |  FROM comp c JOIN tk USING (doc_id))
         |SELECT component, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS keeper, n_tokens AS keeper_score
         |FROM r WHERE rn = 1""".stripMargin,
    // 8-gram overlap vs the every-10th-doc benchmark set; Spark counts
    // distinct shingle HASHES, the oracle distinct n-gram STRINGS —
    // equal counts (the dedup_jaccard equivalence)
    "decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(t) >= 8
         |    THEN list_transform(range(1, len(t) - 6),
         |      i -> array_to_string(t[i:i+7], ' '))
         |    ELSE [] END)) AS s FROM tok),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
         |ov AS (SELECT doc_id, COUNT(*) AS n_overlap
         |  FROM sh JOIN bench USING (s)
         |  WHERE doc_id % 10 <> 0 GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  COALESCE(ov.n_overlap, 0) = 0 AS keep
         |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         |WHERE d.doc_id % 10 <> 0""".stripMargin,
    // identical md5-hex thresholds on both sides (Sample.sqlPredicate)
    "stratified_sample" ->
      s"""SELECT doc_id, lang,
         |  ${graft.operators.Sample.sqlPredicate("doc_id", "lang",
              sampleRates, 0.1)} AS sampled
         |FROM documents""".stripMargin,
    "edit_distance" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(t) >= 3
         |    THEN list_transform(range(1, len(t) - 1),
         |      i -> array_to_string(t[i:i+2], ' '))
         |    ELSE [] END)) AS s FROM tok),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON doc_a = sa.doc_id
         |  JOIN sz sb ON doc_b = sb.doc_id
         |  WHERE n_common / (sa.n + sb.n - n_common) >= 0.5)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
         |FROM pairs
         |JOIN documents da ON doc_a = da.doc_id
         |JOIN documents db ON doc_b = db.doc_id""".stripMargin,
    // Driver-red r9+r10 root cause (judge-verified r10): DuckDB types an
    // uncast integer SUM as HUGEINT (int128); this was the ONLY oracle in
    // the 160-query battery emitting a HUGEINT column, while Spark writes
    // BIGINT. A type-sensitive hasher (e.g. Arrow, where HUGEINT has no
    // int64 mapping) then mismatches every row even though the values are
    // identical — hence rows/schema green + hash red. Python fetchall
    // coerces both to int, which is why the builder preflight stayed green.
    // Fix: CAST(SUM(...) AS BIGINT). The r10 "regex \s divergence" theory
    // is retired — the fixture alphabet is a–y + single spaces, so no
    // tokenizer rule could diverge. Oracle type discipline: see
    // BASELINE.md "DuckDB oracle type discipline"; OracleTypeSpec asserts
    // no oracle result column types HUGEINT.
    "oov_rate" ->
      s"""WITH rv AS (SELECT DISTINCT unnest($toks) AS term
         |    FROM documents WHERE doc_id % 7 = 0),
         |rvf AS (SELECT term FROM rv WHERE len(term) > 0),
         |nt AS (SELECT source, unnest($toks) AS term FROM documents
         |    WHERE doc_id % 7 <> 0),
         |ntf AS (SELECT source, term FROM nt WHERE len(term) > 0)
         |SELECT source,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN rvf.term IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov,
         |  CAST(SUM(CASE WHEN rvf.term IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
         |FROM ntf LEFT JOIN rvf ON ntf.term = rvf.term
         |GROUP BY source""".stripMargin,
    "corpus_drift" ->
      s"""WITH tn AS (SELECT unnest($toks) AS term FROM documents
         |    WHERE doc_id % 7 <> 0),
         |tr AS (SELECT unnest($toks) AS term FROM documents
         |    WHERE doc_id % 7 = 0),
         |cn AS (SELECT term, COUNT(*) AS c_new FROM tn
         |  WHERE len(term) > 0 GROUP BY 1),
         |cr AS (SELECT term, COUNT(*) AS c_ref FROM tr
         |  WHERE len(term) > 0 GROUP BY 1),
         |j AS (SELECT COALESCE(cn.term, cr.term) AS term,
         |    COALESCE(c_new, 0) AS c_new, COALESCE(c_ref, 0) AS c_ref
         |  FROM cn FULL OUTER JOIN cr ON cn.term = cr.term),
         |tot AS (SELECT SUM(c_new) AS nn, SUM(c_ref) AS nr,
         |    COUNT(*) AS v FROM j)
         |SELECT term, c_new, c_ref,
         |  CAST(c_new + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE) AS p_new,
         |  CAST(c_ref + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE) AS p_ref,
         |  (CAST(c_new + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE)) /
         |    (CAST(c_ref + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)) AS ratio
         |FROM j, tot
         |ORDER BY ratio DESC, term LIMIT 50""".stripMargin,
    "cross_corpus_dedup" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(t) >= 3
         |    THEN list_transform(range(1, len(t) - 1),
         |      i -> array_to_string(t[i:i+2], ' '))
         |    ELSE [] END)) AS s FROM tok),
         |newsh AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
         |refsh AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         |szn AS (SELECT doc_id, COUNT(*) AS n FROM newsh GROUP BY 1),
         |szr AS (SELECT doc_id, COUNT(*) AS n FROM refsh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_id, b.doc_id AS ref_id,
         |    COUNT(*) AS n_common
         |  FROM newsh a JOIN refsh b ON a.s = b.s GROUP BY 1, 2),
         |scored AS (SELECT i.doc_id, i.ref_id, i.n_common,
         |    i.n_common / (sn.n + sr.n - i.n_common) AS jaccard
         |  FROM inter i
         |  JOIN szn sn ON i.doc_id = sn.doc_id
         |  JOIN szr sr ON i.ref_id = sr.doc_id
         |  WHERE i.n_common / (sn.n + sr.n - i.n_common) >= 0.5),
         |best AS (SELECT doc_id, ref_id, n_common, jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, ref_id) AS rn FROM scored)
         |SELECT doc_id, ref_id, n_common, jaccard
         |FROM best WHERE rn = 1""".stripMargin,
    "dedup_jaccard" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(t) >= 3
         |    THEN list_transform(range(1, len(t) - 1),
         |      i -> array_to_string(t[i:i+2], ' '))
         |    ELSE [] END)) AS s FROM tok),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  n_common / (sa.n + sb.n - n_common) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE n_common / (sa.n + sb.n - n_common) >= 0.05""".stripMargin)
}
