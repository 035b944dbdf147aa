package graft.runner.plugins

import org.apache.spark.sql.functions._

import graft.operators.{Components, Decontaminate, Dedup, Drift,
  Fingerprint, Resample, Sample, Scrub, SequencePack, SpanDedup, Split,
  TermIndex, TextStats}
import graft.runner._

/** The LLM-data-pipeline extensions as ordinary runner plugins (SURVEY
  * §7 step 6: "all as ordinary plugins") — the same operator library
  * the query harness verifies, addressable from YAML pipelines.
  *
  * The rule for every plugin under `runner/plugins`: each parquet
  * dataset a step writes goes through [[graft.runner.Counted.write]].
  * A counter that counts (or filter-counts, or sums) a frame the step
  * writes rides that write; a row count of a parquet input or output
  * comes from its footers ([[graft.runner.Counted.parquetRows]]).
  * Distinct counts and counts of other datasets keep their own job.
  */

/** `text_dedup` — corpus dedup step: exact dedup by md5(text), plus
  * optional near-dedup (`min_jaccard`) via n-gram Jaccard pairs →
  * connected components, keeping each cluster's minimum id. Writes the
  * surviving rows as parquet.
  *
  * Args: `input` (documents parquet), `output_path`, optional `id_col`
  * (default doc_id), `text_col` (default text), `min_jaccard` (off =
  * exact only), `ngram` (default 3).
  *
  * Counters: `n_in` is the input's row count from its parquet footers
  * ([[Counted.parquetRows]]), `n_kept` is observed on the write;
  * `n_dropped` is their difference.
  */
object TextDedupPlugin extends StepPlugin {
  val name = "text_dedup"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val minJ = ctx.argDoubleOpt("min_jaccard")
    val n = ctx.argInt("ngram", 3)

    val docs = ctx.spark.read.parquet(in)
    // exact pass first: cheapest, always on (one hash-aggregate window)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
    val exactKept = docs
      .withColumn("__keep", col(idCol) === min(col(idCol)).over(w))
      .filter(col("__keep")).drop("__keep")
    val kept = minJ match {
      case Some(j) =>
        // near-dup clusters over the exact survivors; keep cluster
        // minima. exactKept feeds TWO consumers (the shingle build and
        // the final anti join) — persist so the full-corpus md5-window
        // pass runs once, per the library-wide multi-consumer rule
        exactKept.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val pairs = Dedup.ngramJaccardPairs(exactKept, idCol,
            col(textCol), n = n, minJaccard = j)
          val losers = Components.connected(pairs, "doc_a", "doc_b")
            .filter(col("id") =!= col("component"))
            .select(col("id").as(idCol))
          Counted.write(exactKept.join(losers, Seq(idCol), "left_anti"),
            out, "n_kept" -> Counted.rows)
        } finally exactKept.unpersist()
      case None =>
        Counted.write(exactKept, out, "n_kept" -> Counted.rows)
    }
    val nIn = Counted.parquetRows(ctx.spark, in)
    val nKept = kept("n_kept")
    StepResult(Map("output_path" -> out,
      "n_in" -> nIn, "n_kept" -> nKept,
      "n_dropped" -> (nIn - nKept)))
  }
}

/** `text_cross_dedup` — dedup a new corpus AGAINST A REFERENCE corpus
  * ([[Dedup.crossCorpusBest]]): the incremental-crawl pass that drops
  * documents already present (near-verbatim) in yesterday's training
  * set. Writes the per-doc best-match audit to `matches_path` (when
  * given) and the cleaned corpus (matched docs dropped) to
  * `output_path`.
  *
  * Args: `input` (new corpus), `reference_input`, `output_path`;
  * optional `matches_path`, `id_col` (doc_id), `text_col` (text),
  * `ngram` (3), `min_jaccard` (0.5), `max_doc_freq` (unset).
  *
  * `n_in` comes from the input's parquet footers; `n_matched` counts
  * the match table with its own job; `n_kept` is their difference.
  */
object TextCrossDedupPlugin extends StepPlugin {
  val name = "text_cross_dedup"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 3)
    val minJ = ctx.argDouble("min_jaccard", 0.5)
    val cap = ctx.argIntOpt("max_doc_freq")
    val in = ctx.argStr("input")
    val docs = ctx.spark.read.parquet(in)
    val ref = ctx.spark.read.parquet(ctx.argStr("reference_input"))
    val matches = Dedup.crossCorpusBest(docs, ref, idCol, col(textCol),
      n = n, minJaccard = minJ, maxDocFreq = cap)
      .withColumnRenamed("doc_id", idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ctx.argStrOpt("matches_path").foreach(Counted.write(matches, _))
      Counted.write(docs.join(matches.select(idCol), Seq(idCol), "left_anti"),
        out)
      val nIn = Counted.parquetRows(ctx.spark, in)
      val nMatched = matches.count()
      StepResult(Map("output_path" -> out, "n_in" -> nIn,
        "n_matched" -> nMatched, "n_kept" -> (nIn - nMatched)))
    } finally matches.unpersist()
  }
}

/** `text_drift` — corpus drift audit against a reference corpus
  * ([[graft.operators.Drift]]): writes the top-k over-represented
  * terms (Laplace-smoothed probability ratio) to `output_path` and,
  * when `oov_path` is given, the per-source out-of-vocabulary rates —
  * the mixture-shift + tokenizer-coverage screen a refresh pipeline
  * runs before accepting a new cut.
  *
  * Args: `input` (new corpus), `reference_input`, `output_path`;
  * optional `oov_path`, `text_col` (text), `source_col` (source),
  * `top_k` (50).
  *
  * `n_terms` rides the write; the doubles `max_ratio` and
  * `worst_oov_rate` re-read their outputs.
  */
object TextDriftPlugin extends StepPlugin {
  val name = "text_drift"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val textCol = ctx.argStr("text_col", "text")
    val srcCol = ctx.argStr("source_col", "source")
    val topK = ctx.argInt("top_k", 50)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    val ref = ctx.spark.read.parquet(ctx.argStr("reference_input"))
    def maxOf(path: String, c: String) = ctx.spark.read.parquet(path)
      .agg(coalesce(max(col(c)), lit(0.0))).head().getDouble(0)
    val drift = Counted.output(
      Drift.termDrift(docs, ref, col(textCol), topK).coalesce(1), out,
      "n_terms" -> Counted.rows) ++ Map("max_ratio" -> maxOf(out, "ratio"))
    ctx.argStrOpt("oov_path").fold(drift) { p =>
      Counted.write(
        Drift.oovRate(docs, ref, col(textCol), col(srcCol)).coalesce(1), p)
      drift ++ Map("oov_path" -> p, "worst_oov_rate" -> maxOf(p, "oov_rate"))
    }
  }
}

/** `text_quality` — per-document stats + language ID + keep/drop
  * verdict (the quality_filter surface as a pipeline step).
  *
  * Args: `input`, `output_path`, optional `id_col`, `text_col`,
  * `min_tokens` (default 20), `max_tokens` (default 500).
  */
object TextQualityPlugin extends StepPlugin {
  val name = "text_quality"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val minTok = ctx.argLong("min_tokens", 20L)
    val maxTok = ctx.argLong("max_tokens", 500L)

    val verdicts = graft.queries.TextQueries.qualityVerdict(
      ctx.spark.read.parquet(in), idCol, textCol, minTok, maxTok)
    Counted.output(verdicts, out,
      "n_keep" -> sum(when(col("verdict") === "keep", 1)),
      "n_total" -> Counted.rows)
  }
}

/** `text_fingerprint` — winnowing fingerprint extraction as a step
  * (containment/overlap index build; [[Fingerprint.winnowFingerprints]]).
  *
  * Args: `input`, `output_path`, optional `id_col`, `text_col`,
  * `ngram` (default 3), `window` (default 4).
  */
object TextFingerprintPlugin extends StepPlugin {
  val name = "text_fingerprint"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 3)
    val w = ctx.argInt("window", 4)

    Counted.output(Fingerprint.winnowFingerprints(
        ctx.spark.read.parquet(in), idCol, col(textCol), n = n, w = w),
      out, "n_fingerprints" -> Counted.rows)
  }
}

/** `text_span_audit` — exact-substring duplication audit as a step
  * ([[SpanDedup]]): per-document repeated-span profile (`dup_spans
  * .parquet`) and the source-pair shared-n-gram overlap matrix
  * (`source_overlap.parquet`).
  *
  * Args: `input`, `output_dir`, optional `id_col` (doc_id), `text_col`
  * (text), `source_col` (source), `ngram` (default 8), `flag_ratio`
  * (default 0.5 — a doc whose dup_span_ratio meets it is counted
  * flagged), `max_sources_per_shingle` (default 0 = uncapped).
  */
object TextSpanAuditPlugin extends StepPlugin {
  val name = "text_span_audit"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val outDir = ctx.argStr("output_dir")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val srcCol = ctx.argStr("source_col", "source")
    val n = ctx.argInt("ngram", 8)
    val flagRatio = ctx.argDouble("flag_ratio", 0.5)
    val cap = ctx.argInt("max_sources_per_shingle", 0)

    val docs = ctx.spark.read.parquet(in)
    val spansPath = s"$outDir/dup_spans.parquet"
    val coveragePath = s"$outDir/dup_coverage.parquet"
    val overlapPath = s"$outDir/source_overlap.parquet"
    Counted.write(SpanDedup.dupSpans(docs, idCol, col(textCol), n), spansPath)
    // flag on the merged-interval coverage, not raw position counts:
    // overlapping spans would overstate how much text is copied
    val coverage = Counted.write(
      SpanDedup.dupCoverage(docs, idCol, col(textCol), n), coveragePath,
      "n_docs" -> Counted.rows,
      "n_flagged" -> sum(when(col("coverage_ratio") >= flagRatio, 1)))
    val overlap = Counted.write(
      SpanDedup.sourceOverlap(docs, idCol, srcCol, col(textCol), n,
        maxSourcesPerShingle = cap),
      overlapPath, "n_source_pairs" -> Counted.rows)
    StepResult(Map(
      "dup_spans_path" -> spansPath,
      "dup_coverage_path" -> coveragePath,
      "source_overlap_path" -> overlapPath) ++ coverage ++ overlap)
  }
}

/** `text_resample` — domain-mixture rebalancing as a step
  * ([[Resample.toMixture]]): replicate/thin each stratum to its target
  * share of a row budget, deterministically.
  *
  * Args: `input`, `output_path`, `budget` (rows), `weights` (YAML map
  * stratum → weight), optional `id_col` (doc_id), `stratum_col`
  * (source), `default_weight` (0 = drop unlisted strata).
  *
  * Counters: `n_in` is the input's row count from its parquet footers
  * ([[Counted.parquetRows]]), `n_out` is observed on the write.
  */
object TextResamplePlugin extends StepPlugin {
  val name = "text_resample"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val budget = ctx.argLong("budget")
    val weights = ctx.argOpt("weights") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) =>
        k.toString -> v.toString.toDouble }
      case _ => sys.error("text_resample: 'weights' map is required")
    }
    val idCol = ctx.argStr("id_col", "doc_id")
    val stCol = ctx.argStr("stratum_col", "source")
    val defW = ctx.argDouble("default_weight", 0.0)

    val docs = ctx.spark.read.parquet(in)
    Counted.output(Resample.toMixture(docs, col(idCol), col(stCol),
      weights, budget, defW), out, "n_out" -> Counted.rows) ++
      Map("n_in" -> Counted.parquetRows(ctx.spark, in))
  }
}

/** `text_scrub` — PII redaction as a step ([[Scrub.scrub]]): rewrite
  * the text column with emails/IPs/phones replaced by sentinels, and
  * report corpus-wide redaction counts.
  *
  * Args: `input`, `output_path`, optional `id_col` (doc_id),
  * `text_col` (text).
  *
  * Counters: all are observed on the write, so the regex battery runs
  * once. `n_docs` counts the written rows; `n_emails`, `n_ips` and
  * `n_phones` sum the per-doc counts the written rows carry.
  */
object TextScrubPlugin extends StepPlugin {
  val name = "text_scrub"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")

    val docs = ctx.spark.read.parquet(in)
    val scrubbed = Scrub.scrub(docs, col(idCol), col(textCol))
    Counted.output(docs.drop(textCol)
      .join(scrubbed.withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("clean", textCol), Seq(idCol)),
      out, "n_docs" -> Counted.rows, "n_emails" -> sum("n_emails"),
      "n_ips" -> sum("n_ips"), "n_phones" -> sum("n_phones"))
  }
}

/** `text_term_index` — term-level curation artifacts as a step
  * ([[TermIndex]]): tf/df top-k distinctive terms per document
  * (`term_topk.parquet`) and the capped inverted word-n-gram index
  * (`inverted_index.parquet`).
  *
  * Args: `input`, `output_dir`, optional `id_col` (doc_id), `text_col`
  * (text), `top_k` (default 5), `ngram` (default 3), `max_postings`
  * (default 10).
  *
  * `n_terms` rides the index write; `n_docs` comes from the input's
  * parquet footers.
  */
object TextTermIndexPlugin extends StepPlugin {
  val name = "text_term_index"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val outDir = ctx.argStr("output_dir")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val k = ctx.argInt("top_k", 5)
    val n = ctx.argInt("ngram", 3)
    val maxPost = ctx.argInt("max_postings", 10)

    val docs = ctx.spark.read.parquet(in)
    val topkPath = s"$outDir/term_topk.parquet"
    val indexPath = s"$outDir/inverted_index.parquet"
    Counted.write(TermIndex.tfidfTopK(docs, idCol, col(textCol), k), topkPath)
    val c = Counted.write(
      TermIndex.invertedIndex(docs, idCol, col(textCol), n, maxPost),
      indexPath, "n_terms" -> Counted.rows)
    StepResult(Map("term_topk_path" -> topkPath,
      "inverted_index_path" -> indexPath,
      "n_docs" -> Counted.parquetRows(ctx.spark, in)) ++ c)
  }
}

/** `text_decontaminate` — benchmark-leak removal
  * ([[Decontaminate.flag]]): drop every corpus doc sharing a distinct
  * word n-gram with the held-out benchmark set. The benchmark shingle
  * set broadcasts; the corpus never shuffles for the overlap test.
  *
  * Args: `input`, `benchmark_input`, `output_path` (surviving rows),
  * optional `flags_path` (the per-doc verdicts), `id_col` (doc_id),
  * `text_col` (text), `ngram` (default 8).
  *
  * Counters: `n_in` is the input's row count from its parquet footers
  * (`flag` gives every input row one flag row), `n_kept` is observed
  * on the write; `n_contaminated` is their difference.
  */
object TextDecontaminatePlugin extends StepPlugin {
  val name = "text_decontaminate"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 8)
    val docs = ctx.spark.read.parquet(in)
    val bench = ctx.spark.read.parquet(ctx.argStr("benchmark_input"))
    val flags = Decontaminate.flag(docs, bench, idCol, col(textCol), n)
    // flags feed the keep-join and (optionally) their own sink — and
    // computing them costs the full corpus shingle pass: persist
    flags.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ctx.argStrOpt("flags_path").foreach(Counted.write(flags, _))
      val kept = Counted.write(
        docs.join(flags.filter(col("keep")).select(col(idCol)),
          Seq(idCol)),
        out, "n_kept" -> Counted.rows)
      val nIn = Counted.parquetRows(ctx.spark, in)
      val nKept = kept("n_kept")
      StepResult(Map("output_path" -> out, "n_in" -> nIn,
        "n_kept" -> nKept, "n_contaminated" -> (nIn - nKept)))
    } finally flags.unpersist()
  }
}

/** `text_contamination_score` — graded per-doc benchmark overlap
  * ([[SpanDedup.contaminationScore]]): the continuous complement to
  * `text_decontaminate`'s hard drop — fraction of each doc's distinct
  * word n-grams present anywhere in the benchmark, for thresholding
  * and audit. Args: `input`, `benchmark_input`, `output_path`;
  * optional `id_col` (doc_id), `text_col` (text), `ngram` (8),
  * `max_contamination` (when set, also writes the docs at or below
  * the threshold to `clean_path`).
  */
object TextContaminationScorePlugin extends StepPlugin {
  val name = "text_contamination_score"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 8)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    val bench = ctx.spark.read.parquet(ctx.argStr("benchmark_input"))
    val scored = Counted.output(
      SpanDedup.contaminationScore(docs, bench, idCol, col(textCol), n),
      out, "n_scored" -> Counted.rows,
      "n_flagged" -> sum(when(col("contamination") > 0, 1)))
    ctx.argDoubleOpt("max_contamination").fold(scored) { thr =>
      val cleanPath = ctx.argStr("clean_path")
      val scores = ctx.spark.read.parquet(out)
      scored ++ Map("clean_path" -> cleanPath) ++ Counted.write(
        docs.join(scores.filter(col("contamination") <= thr)
          .select(col(idCol)), Seq(idCol)),
        cleanPath, "n_clean" -> Counted.rows)
    }
  }
}

/** `text_pack` — sequence packing ([[SequencePack.pack]]): assign every
  * doc its (pack_id, pack_offset) training-sequence coordinates via the
  * distributed two-pass prefix sum.
  *
  * Args: `input`, `output_path`, optional `id_col` (doc_id) or
  * `id_expr` (a SQL expression when no single column is unique — e.g.
  * a resampled mixture repeats doc_id per copy, so
  * `doc_id * 1024 + copy_idx`), `source_col` (source), `text_col`
  * (text; token count = whitespace tokens), `seq_len` (default 2048),
  * `buckets` (default 64).
  *
  * Counters: `n_docs` is observed on the write. `n_packs` is a
  * distinct count, which an observation cannot compute, so it re-reads
  * the output.
  */
object TextPackPlugin extends StepPlugin {
  val name = "text_pack"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val id = ctx.argStrOpt("id_expr").map(expr)
      .getOrElse(col(ctx.argStr("id_col", "doc_id")))
    val srcCol = ctx.argStr("source_col", "source")
    val textCol = ctx.argStr("text_col", "text")
    val seqLen = ctx.argInt("seq_len", 2048)
    val buckets = ctx.argInt("buckets", 64)
    val docs = ctx.spark.read.parquet(in)
    Counted.output(SequencePack.pack(docs, id, col(srcCol),
        size(TextStats.tokens(col(textCol))), seqLen, buckets),
      out, "n_docs" -> Counted.rows) ++
      // a distinct count cannot be observed: it keeps its re-read
      Map("n_packs" -> ctx.spark.read.parquet(out)
        .select("source", "pack_id").distinct().count())
  }
}

/** `text_cosine_pairs` — sparse TF-IDF doc-doc cosine similarity over
  * the inverted n-gram-shingle index ([[TermIndex.cosinePairs]]): the
  * near-dup pair finder that never goes all-pairs — candidates come
  * from the postings self-join, df-capped so a stop-shingle cannot
  * create a quadratic hot term (the 100 TB-safe form; the dense
  * embedding twin is `embedding_semdedup`).
  *
  * Args: `input` (documents parquet), `output_path` (pairs id_a < id_b
  * with their cosine). Optional `id_col` (doc_id), `text_col` (text),
  * `ngram` (shingle width, default 3), `min_cosine` (default 0.3),
  * `max_df` (postings cap per term, default 100).
  */
object TextCosinePairsPlugin extends StepPlugin {
  val name = "text_cosine_pairs"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 3)
    val minCos = ctx.argDouble("min_cosine", 0.3)
    val maxDf = ctx.argLong("max_df", 100L)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    val occurrences = Fingerprint
      .explodedShingles(docs, idCol, col(textCol), n = n)
      .select(col(idCol).as("id"), col("sh").as("term"))
    Counted.output(
      TermIndex.cosinePairs(occurrences, minCosine = minCos, maxDf = maxDf),
      out, "n_pairs" -> Counted.rows)
  }
}

/** `text_leakage_split` — near-dup-cluster-aware train/val/test
  * assignment ([[graft.operators.Split.assignByRepresentative]]): the
  * split hash keys on each document's duplicate-cluster representative
  * (n-gram Jaccard pairs → connected components, its own id outside
  * any cluster), so a near-copy of a training document can never land
  * in a held-out set — the contamination a plain per-id split silently
  * allows. Same determinism contract as any md5-threshold split:
  * reproducible across runs, partitionings and corpus growth.
  *
  * Args: `input` (documents parquet), `output_path` (doc rows +
  * `rep` + `split`). Optional `id_col` (doc_id), `text_col` (text),
  * `ngram` (default 3), `min_jaccard` (clustering threshold, default
  * 0.5), `weights` ("name=w,name=w,…" in priority order; default
  * "train=0.8,val=0.1,test=0.1").
  *
  * `n_docs` and `n_<split>` ride the write; a split with no rows gets
  * no field, and null ids (a null split) count as `n_null`.
  */
object TextLeakageSplitPlugin extends StepPlugin {
  val name = "text_leakage_split"

  private[plugins] def parseWeights(s: String): Seq[(String, Double)] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val (k, v) = StepContext.splitPair(kv)
      k.trim -> v.trim.toDouble
    }

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 3)
    val minJ = ctx.argDouble("min_jaccard", 0.5)
    val weights =
      parseWeights(ctx.argStr("weights", "train=0.8,val=0.1,test=0.1"))
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, col(textCol),
      n = n, minJaccard = minJ)
    val comp = Components.connected(pairs, "doc_a", "doc_b")
      .select(col("id").as(idCol), col("component"))
    val perSplit = (weights.map { case (k, _) =>
        s"n_$k" -> (col("split") === k) } :+
      ("n_null" -> col("split").isNull)).distinctBy(_._1)
      .map { case (name, in) => name -> sum(when(in, 1)) }
    val c = Counted.write(Split.assignByRepresentative(
        docs.join(comp, Seq(idCol), "left"),
        col(idCol), col("component"), weights)
      .drop("component"), out, ("n_docs" -> Counted.rows) +: perSplit: _*)
    StepResult(Map("output_path" -> out) ++
      c.filter { case (k, v) => k == "n_docs" || v > 0 })
  }
}

/** `text_cluster_weights` — soft-dedup sampling weights
  * ([[graft.operators.Components.memberWeights]]): `1/|cluster|` per
  * near-dup cluster member, 1.0 for singletons — the keep-everything
  * alternative to `text_dedup`'s drop-the-copies, with each distinct
  * work contributing equally to a weight-sampled training mix.
  *
  * Args: `input`, `output_path` ((id, cluster_size, weight)).
  * Optional `id_col` (doc_id), `text_col` (text), `ngram` (default
  * 3), `min_jaccard` (default 0.5).
  */
object TextClusterWeightsPlugin extends StepPlugin {
  val name = "text_cluster_weights"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val n = ctx.argInt("ngram", 3)
    val minJ = ctx.argDouble("min_jaccard", 0.5)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, col(textCol),
      n = n, minJaccard = minJ)
    Counted.output(
      Components.memberWeights(docs, idCol, pairs, "doc_a", "doc_b")
        .withColumnRenamed("id", idCol),
      out, "n_docs" -> Counted.rows,
      "n_clustered" -> sum(when(col("cluster_size") > 1, 1)))
  }
}

/** `text_topic_pairs` — distinctive-term co-occurrence mining
  * ([[graft.operators.TermIndex.topicCooccurrence]]): market-basket
  * pairs over each document's top-`k` tf/df terms with support count
  * and lift; per-document fanout bounded at C(k,2) by construction.
  *
  * Args: `input`, `output_path` ((term_a, term_b, n_ab, lift)).
  * Optional `id_col` (doc_id), `text_col` (text), `top_k` (default 3),
  * `min_support` (default 5).
  */
object TextTopicPairsPlugin extends StepPlugin {
  val name = "text_topic_pairs"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val k = ctx.argInt("top_k", 3)
    val minSupport = ctx.argLong("min_support", 5L)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    Counted.output(
      TermIndex.topicCooccurrence(docs, idCol, col(textCol), k, minSupport),
      out, "n_pairs" -> Counted.rows)
  }
}

/** `text_group_sample` — deterministic k-without-replacement sample
  * per group ([[graft.operators.Sample.fixedPerGroup]]): the bounded
  * eval-subset / inspection-sample cut (exactly k rows per stratum,
  * salted-hash order statistic — reproducible across engines and
  * stable under corpus growth).
  *
  * Args: `input`, `output_path`. Optional `id_col` (doc_id),
  * `group_col` (source), `k` (default 20).
  */
object TextGroupSamplePlugin extends StepPlugin {
  val name = "text_group_sample"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val grpCol = ctx.argStr("group_col", "source")
    val k = ctx.argInt("k", 20)
    val docs = ctx.spark.read.parquet(ctx.argStr("input"))
    Counted.output(Sample.fixedPerGroup(docs, col(idCol), col(grpCol), k),
      out, "n_sampled" -> Counted.rows) ++ Map("n_groups" ->
      ctx.spark.read.parquet(out).select(grpCol).distinct().count())
  }
}
