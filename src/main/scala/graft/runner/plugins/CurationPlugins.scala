package graft.runner.plugins

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Bpe, Budget, Curriculum, Dsir, Ivf, KCore,
  NgramLm, Outliers, PageRank, SemanticDedup, Shard, Similarity,
  TextStats, Triangles}
import graft.runner._

/** The round-6 curation/analytics operators as runner plugins (SURVEY
  * §7 step 6) — same library the oracle battery verifies, addressable
  * from YAML pipelines. Outputs and counters follow the rule in the
  * `TextPlugins` header: one writer, [[graft.runner.Counted.write]].
  */

/** `text_lm_score` — bigram-LM corpus-fit scoring ([[NgramLm.score]]).
  *
  * Args: `input`, `output_path`; the training slice is either
  * `lm_input` (its own parquet) or carved from `input` by
  * `train_mod` (default 10: ids ≡ 0 mod m train, the rest scored).
  * Optional `id_col` (doc_id), `text_col` (text).
  */
object TextLmScorePlugin extends StepPlugin {
  val name = "text_lm_score"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val docs = ctx.spark.read.parquet(in)
    val (lm, scored) = ctx.argStrOpt("lm_input") match {
      case Some(p) => (ctx.spark.read.parquet(p), docs)
      case None =>
        val m = ctx.argInt("train_mod", 10)
        (docs.filter(col(idCol) % m === 0),
          docs.filter(col(idCol) % m =!= 0))
    }
    Counted.output(NgramLm.score(scored, lm, idCol, col(textCol)),
      out, "n_scored" -> Counted.rows,
      "n_oov_docs" -> sum(when(col("n_oov") > 0, 1)))
  }
}

/** `text_dsir` — DSIR importance weights ([[Dsir.weights]]).
  *
  * Args: `input`, `output_path`, and the target slice as either
  * `target_input` (parquet) or `target_where` (a SQL predicate over
  * the input, e.g. `lang = 'en'`). Optional `id_col`, `text_col`,
  * `buckets` (default 512).
  */
object TextDsirPlugin extends StepPlugin {
  val name = "text_dsir"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val b = ctx.argInt("buckets", 512)
    val docs = ctx.spark.read.parquet(in)
    val target = (ctx.argStrOpt("target_input"),
        ctx.argStrOpt("target_where")) match {
      case (Some(p), _) => ctx.spark.read.parquet(p)
      case (None, Some(w)) => docs.filter(expr(w))
      case _ => sys.error(
        "text_dsir: one of 'target_input' / 'target_where' is required")
    }
    Counted.output(Dsir.weights(docs, target, idCol, col(textCol), b),
      out, "n_docs" -> Counted.rows)
  }
}

/** `text_curriculum` — global training-order rank
  * ([[Curriculum.order]]), difficulty = whitespace token count of
  * `text_col` or any SQL expression via `difficulty_expr`.
  *
  * Args: `input`, `output_path`, optional `id_col`, `text_col`,
  * `difficulty_expr`, `buckets` (default 64).
  */
object TextCurriculumPlugin extends StepPlugin {
  val name = "text_curriculum"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val buckets = ctx.argInt("buckets", 64)
    val diff = ctx.argStrOpt("difficulty_expr").map(expr)
      .getOrElse(size(TextStats.tokens(col(textCol))).cast("long"))
    val docs = ctx.spark.read.parquet(in)
    Counted.output(Curriculum.order(docs, col(idCol), diff, buckets)
      .withColumnRenamed("id", idCol), out, "n_docs" -> Counted.rows)
  }
}

/** `embedding_semdedup` — SemDeDup over an embeddings table
  * ([[SemanticDedup.dedupe]]): write the per-vector verdict, and
  * optionally the surviving rows.
  *
  * Args: `input`, `output_path` (verdicts), optional `keep_path`
  * (kept input rows), `id_col` (vec_id), `vec_col` (embedding),
  * `k` (default 8), `iters` (default 1), `min_cosine` (default 0.9).
  */
object EmbeddingSemdedupPlugin extends StepPlugin {
  val name = "embedding_semdedup"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "vec_id")
    val vecCol = ctx.argStr("vec_col", "embedding")
    val k = ctx.argInt("k", 8)
    val iters = ctx.argInt("iters", 1)
    val minCos = ctx.argDouble("min_cosine", 0.9)
    val raw = ctx.spark.read.parquet(in)
    val verdicts = SemanticDedup.dedupe(
      raw.select(col(idCol).as("id"),
        Similarity.asDouble(col(vecCol)).as("vec")), k, iters, minCos)
    val c = Counted.write(verdicts, out, "n_in" -> Counted.rows,
      "n_kept" -> sum(when(col("keep"), 1)))
    ctx.argStrOpt("keep_path").foreach { kp =>
      val v = ctx.spark.read.parquet(out)
      Counted.write(raw.join(v.filter(col("keep")).select(col("id").as(idCol)),
        Seq(idCol)), kp)
    }
    StepResult(Map("output_path" -> out) ++ c)
  }
}

/** `embedding_outliers` — per-group centroid outlier audit
  * ([[Outliers.byGroup]]).
  *
  * Args: `input`, `output_path`, optional `id_col` (vec_id),
  * `group_col` (label), `vec_col` (embedding), `top_k` (default 5).
  */
object EmbeddingOutliersPlugin extends StepPlugin {
  val name = "embedding_outliers"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "vec_id")
    val grpCol = ctx.argStr("group_col", "label")
    val vecCol = ctx.argStr("vec_col", "embedding")
    val k = ctx.argInt("top_k", 5)
    Counted.output(Outliers.byGroup(
        ctx.spark.read.parquet(in).select(col(idCol).as("id"),
          col(grpCol).as("grp"),
          Similarity.asDouble(col(vecCol)).as("vec")), k),
      out, "n_vectors" -> Counted.rows,
      "n_outliers" -> sum(when(col("is_outlier"), 1)))
  }
}

/** `targeted_delete` — keyed deletion over a partitioned dataset
  * ([[graft.operators.Sink.deleteKeys]]): the right-to-be-forgotten
  * step; only partitions holding doomed rows rewrite.
  *
  * Args: `dataset_path`, `keys` (list of key column names), and the
  * doomed keys as either `keys_input` (parquet of key rows) or
  * `where` (SQL predicate over the dataset selecting rows to delete).
  * Optional `partition_cols` (list).
  *
  * `n_before` and `n_after` come from the dataset's parquet footers.
  */
object TargetedDeletePlugin extends StepPlugin {
  val name = "targeted_delete"

  def run(ctx: StepContext): StepResult = {
    val path = ctx.argStr("dataset_path")
    val keys = ctx.argList("keys")
      .getOrElse(sys.error("targeted_delete: 'keys' list is required"))
    val pcols = ctx.argList("partition_cols").getOrElse(Nil)
    val before = Counted.parquetRows(ctx.spark, path)
    val doomed = (ctx.argStrOpt("keys_input"), ctx.argStrOpt("where")) match {
      case (Some(p), _) => ctx.spark.read.parquet(p)
      case (None, Some(w)) => ctx.spark.read.parquet(path).filter(expr(w))
      case _ => sys.error(
        "targeted_delete: one of 'keys_input' / 'where' is required")
    }
    graft.operators.Sink.deleteKeys(ctx.spark, path, doomed, keys, pcols)
    val after = Counted.parquetRows(ctx.spark, path)
    StepResult(Map("dataset_path" -> path, "n_before" -> before,
      "n_after" -> after, "n_deleted" -> (before - after)))
  }
}

/** `graph_pagerank` — PageRank over an edge table ([[PageRank.run]]).
  *
  * Args: `edges_input` (parquet with `src`,`dst`), `output_path`,
  * optional `nodes_input` (vertex parquet with `id`; default = distinct
  * edge endpoints), `iters` (default 5), `damping` (default 0.85),
  * `symmetric` (default false: add reverse edges first).
  */
object GraphPagerankPlugin extends StepPlugin {
  val name = "graph_pagerank"

  def run(ctx: StepContext): StepResult = {
    val ein = ctx.argStr("edges_input")
    val out = ctx.argStr("output_path")
    val iters = ctx.argInt("iters", 5)
    val damping = ctx.argDouble("damping", 0.85)
    val raw = ctx.spark.read.parquet(ein).select("src", "dst")
    val edges = if (ctx.argBool("symmetric", default = false))
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    else raw
    val nodes = ctx.argStrOpt("nodes_input") match {
      case Some(p) => ctx.spark.read.parquet(p).select("id")
      case None => edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
    }
    Counted.output(PageRank.run(nodes, edges, iters, damping), out,
      "n_nodes" -> Counted.rows)
  }
}

/** `text_budget_cap` — per-source token budget ([[Budget.capTokens]]):
  * admit documents in id order until each source's allotment is spent.
  *
  * Args: `input`, `output_path`, `budget` (tokens per source); optional
  * `id_col` (doc_id), `source_col` (source), `text_col` (text;
  * whitespace token count), `keep_only` (true = write survivors only,
  * default false = every row with its `cum_end`/`kept` audit columns).
  */
object TextBudgetCapPlugin extends StepPlugin {
  val name = "text_budget_cap"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val budget = ctx.argLong("budget")
    val idCol = ctx.argStr("id_col", "doc_id")
    val srcCol = ctx.argStr("source_col", "source")
    val textCol = ctx.argStr("text_col", "text")
    val docs = ctx.spark.read.parquet(in)
    val audited = Budget.capTokens(docs, col(idCol), col(srcCol),
      size(TextStats.tokens(col(textCol))), budget)
    val result =
      if (ctx.argBool("keep_only", default = false))
        audited.filter(col("kept"))
      else audited
    Counted.output(result, out, "n_out" -> Counted.rows,
      "n_kept" -> sum(when(col("kept"), 1)))
  }
}

/** `text_quality_floor` — per-source quality percentile floor
  * ([[Budget.percentileFilter]]): drop each source's worst slice by a
  * score's within-source percent rank.
  *
  * Args: `input`, `output_path`, optional `min_pct` (default 0.25 =
  * drop the bottom quartile), `id_col`, `source_col`; the score is
  * `score_col` (a numeric column) or the whitespace token count of
  * `text_col` (default). `keep_only` as in text_budget_cap.
  */
object TextQualityFloorPlugin extends StepPlugin {
  val name = "text_quality_floor"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val minPct = ctx.argDouble("min_pct", 0.25)
    val idCol = ctx.argStr("id_col", "doc_id")
    val srcCol = ctx.argStr("source_col", "source")
    val docs = ctx.spark.read.parquet(in)
    val score = ctx.argStrOpt("score_col").map(col)
      .getOrElse(size(TextStats.tokens(
        col(ctx.argStr("text_col", "text")))))
    val audited = Budget.percentileFilter(docs, col(idCol), col(srcCol),
      score, minPct)
    val result =
      if (ctx.argBool("keep_only", default = false))
        audited.filter(col("kept"))
      else audited
    Counted.output(result, out, "n_out" -> Counted.rows,
      "n_kept" -> sum(when(col("kept"), 1)))
  }
}

/** `graph_triangles` — triangle census + clustering coefficient over an
  * edge table ([[Triangles.perNode]]).
  *
  * Args: `edges_input` (parquet with the edge endpoints), `output_path`;
  * optional `a_col`/`b_col` (default a/b). Edges are canonicalized
  * (min, max) here, self-loops dropped, and the census keeps each pair
  * once, so any undirected edge list works.
  */
object GraphTrianglesPlugin extends StepPlugin {
  val name = "graph_triangles"

  def run(ctx: StepContext): StepResult = {
    val ein = ctx.argStr("edges_input")
    val out = ctx.argStr("output_path")
    val aCol = ctx.argStr("a_col", "a")
    val bCol = ctx.argStr("b_col", "b")
    val raw = ctx.spark.read.parquet(ein)
      .select(col(aCol).as("__x"), col(bCol).as("__y"))
      .filter(col("__x") =!= col("__y"))
    val canon = raw.select(least(col("__x"), col("__y")).as("a"),
      greatest(col("__x"), col("__y")).as("b"))
    Counted.output(Triangles.perNode(canon), out,
      "n_nodes" -> Counted.rows, "n_closed" -> sum(when(col("n_tri") > 0, 1)))
  }
}

/** `text_bpe_learn` — BPE merge-table induction ([[Bpe.learnMerges]]):
  * learn a tokenizer's merge list from the corpus word histogram.
  *
  * Args: `input`, `output_path`, optional `rounds` (default 16),
  * `text_col` (text).
  */
object TextBpeLearnPlugin extends StepPlugin {
  val name = "text_bpe_learn"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val rounds = ctx.argInt("rounds", 16)
    val textCol = ctx.argStr("text_col", "text")
    Counted.output(
      Bpe.learnMerges(ctx.spark.read.parquet(in), col(textCol), rounds),
      out, "n_merges" -> Counted.rows)
  }
}

/** `graph_kcore` — k-core extraction over an edge table
  * ([[KCore.peel]]): fixed-round peeling with per-round checkpoints.
  *
  * Args: `edges_input`, `output_path`, `k`; optional `rounds`
  * (default 8), `a_col`/`b_col` (default a/b), `checkpoint_dir`
  * (reliable checkpoints on clusters; local otherwise).
  */
object GraphKcorePlugin extends StepPlugin {
  val name = "graph_kcore"

  def run(ctx: StepContext): StepResult = {
    val ein = ctx.argStr("edges_input")
    val out = ctx.argStr("output_path")
    val k = ctx.argInt("k")
    val rounds = ctx.argInt("rounds", 8)
    val aCol = ctx.argStr("a_col", "a")
    val bCol = ctx.argStr("b_col", "b")
    val raw = ctx.spark.read.parquet(ein)
      .select(col(aCol).as("__x"), col(bCol).as("__y"))
      .filter(col("__x") =!= col("__y"))
    val canon = raw.select(least(col("__x"), col("__y")).as("a"),
      greatest(col("__x"), col("__y")).as("b"))
    Counted.output(KCore.peel(canon, k, rounds,
        ctx.argStrOpt("checkpoint_dir")),
      out, "n_nodes" -> Counted.rows,
      "n_converged" -> sum(when(col("in_core"), 1)))
  }
}

/** `embedding_ann` — IVF approximate-nearest-neighbor over an
  * embeddings table ([[Ivf]]): deterministic k-means training, the
  * cluster-partitioned on-disk index (`partitionBy(cluster_id)`
  * parquet — a probe reads only its `nprobe` cluster directories via
  * Catalyst partition pruning, the 100 TB search path), and optional
  * top-k answers for a query table.
  *
  * Args: `input`, `index_path` (the partitioned index), optional
  * `centroids_path` (persist the trained codebook too), `id_col`
  * (vec_id), `vec_col` (embedding), `clusters` (default 8), `iters`
  * (default 1); `queries_input` + `topk_path` to also answer queries
  * (`query_id_col` defaults to id_col, `query_vec_col` to vec_col)
  * with `k` (default 5) neighbors probing `nprobe` (default 2)
  * clusters — searched AGAINST THE PERSISTED INDEX, proving the
  * pruned-scan round trip, not the in-memory frame.
  *
  * `n_indexed` comes from the index's parquet footers; `n_clusters` is
  * a distinct count with its own job.
  */
object EmbeddingAnnPlugin extends StepPlugin {
  val name = "embedding_ann"

  def run(ctx: StepContext): StepResult = {
    val idCol = ctx.argStr("id_col", "vec_id")
    val vecCol = ctx.argStr("vec_col", "embedding")
    val clusters = ctx.argInt("clusters", 8)
    val iters = ctx.argInt("iters", 1)
    val indexPath = ctx.argStr("index_path")
    val corpus = ctx.spark.read.parquet(ctx.argStr("input"))
      .select(col(idCol).as("id"), Similarity.asDouble(col(vecCol)).as("vec"))
    val centroids = Ivf.train(corpus, clusters, iters)
    val assigned = Ivf.assign(corpus, centroids)
    Ivf.writeIndex(assigned, indexPath)
    ctx.argStrOpt("centroids_path").foreach(Counted.write(centroids, _))
    val index = ctx.spark.read.parquet(indexPath)
    val extra = ctx.argStrOpt("queries_input").map { qp =>
      val tp = ctx.argStr("topk_path")
      val qid = ctx.argStr("query_id_col", idCol)
      val qvec = ctx.argStr("query_vec_col", vecCol)
      val k = ctx.argInt("k", 5)
      val nprobe = ctx.argInt("nprobe", 2)
      val queries = ctx.spark.read.parquet(qp)
        .select(col(qid).as("qid"),
          Similarity.asDouble(col(qvec)).as("qvec"))
      val c = Counted.write(Ivf.searchTopK(queries, index, centroids, k,
        nprobe), tp, "n_answers" -> Counted.rows)
      Map("topk_path" -> tp) ++ c
    }.getOrElse(Map.empty[String, Any])
    StepResult(Map("index_path" -> indexPath,
      "n_indexed" -> Counted.parquetRows(ctx.spark, indexPath),
      "n_clusters" -> index.select("cluster_id").distinct().count()) ++ extra)
  }
}

/** `corpus_shard` — deterministic corpus shuffle/reshard
  * ([[Shard]]): assign every row a shard (salted-hash bucket) and a
  * replay position, then write one directory per shard with rows in
  * replay order — the final training-data cut, one exchange total.
  *
  * Args: `input`, `output_path`; optional `num_shards` (default 16),
  * `id_col` (doc_id) or `id_expr` (a SQL expression when no single
  * column is unique — e.g. a resampled mixture repeats doc_id per
  * copy; duplicate ids would make replay positions among the
  * duplicates nondeterministic), `epoch` (default 0 — re-keys the
  * permutation per training epoch), `assign_only` (true = write the
  * flat assignment table instead of the sharded directory layout).
  *
  * Counters: `n_rows` is the written row count from the output's
  * parquet footers ([[graft.runner.Counted.parquetRows]]). `n_shards`
  * is the number of committed `shard=<k>` directories
  * ([[Shard.committedShards]]); with `assign_only` it is a distinct
  * count over a re-read of the table.
  */
object CorpusShardPlugin extends StepPlugin {
  val name = "corpus_shard"

  def run(ctx: StepContext): StepResult = {
    val in = ctx.argStr("input")
    val out = ctx.argStr("output_path")
    val numShards = ctx.argInt("num_shards", 16)
    val id = ctx.argStrOpt("id_expr").map(expr)
      .getOrElse(col(ctx.argStr("id_col", "doc_id")))
    val epoch = ctx.argInt("epoch", 0)
    val source = ctx.spark.read.parquet(in)
    val nShards =
      if (ctx.argBool("assign_only", default = false)) {
        Counted.write(Shard.assign(source, id, numShards, epoch), out)
        ctx.spark.read.parquet(out).select("shard").distinct().count()
      } else {
        Shard.writeSharded(source, id, numShards, out, epoch)
        Shard.committedShards(ctx.spark, out)
      }
    StepResult(Map("output_path" -> out,
      "n_rows" -> Counted.parquetRows(ctx.spark, out),
      "n_shards" -> nShards))
  }
}

/** `shard_manifest` — per-shard trainer manifest over a sharded cut
  * ([[graft.operators.Shard.manifest]]): doc/token/char totals per
  * shard, the sidecar a training job reads to size epochs/steps
  * before touching data. One map-side-combinable aggregate keyed by
  * the bounded shard id.
  *
  * Args: `input` (a sharded directory or assign table carrying
  * `shard`), `output_path`; optional `tokens_expr` / `chars_expr`
  * (SQL expressions over the cut's columns, default 0 when the cut
  * carries no such column — doc counts alone still pin balance).
  *
  * Counters: `n_shards` (manifest rows) and `n_docs` (their sum) ride
  * the manifest write.
  */
object ShardManifestPlugin extends StepPlugin {
  val name = "shard_manifest"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val cut = ctx.spark.read.parquet(ctx.argStr("input"))
    val toks = expr(ctx.argStr("tokens_expr", "0"))
    val chars = expr(ctx.argStr("chars_expr", "0"))
    Counted.output(
      graft.operators.Shard.manifest(cut, toks, chars).coalesce(1), out,
      "n_docs" -> sum("n_docs"), "n_shards" -> Counted.rows)
  }
}

/** `corpus_diff` — snapshot diff between two document tables
  * ([[graft.operators.CorpusDiff.diff]]): one row per id with status
  * added / removed / changed / unchanged — the audit that turns a full
  * corpus refresh into an incremental one.
  *
  * Args: `old_input`, `new_input`, `output_path`; optional `id_col`
  * (doc_id), `text_col` (text).
  */
object CorpusDiffPlugin extends StepPlugin {
  val name = "corpus_diff"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val textCol = ctx.argStr("text_col", "text")
    val diff = graft.operators.CorpusDiff.diff(
        ctx.spark.read.parquet(ctx.argStr("old_input")),
        ctx.spark.read.parquet(ctx.argStr("new_input")),
        col(idCol), col(textCol))
      .withColumnRenamed("id", idCol)
    def n(s: String) = s"n_$s" -> sum(when(col("status") === s, 1))
    Counted.output(diff, out, "n_total" -> Counted.rows, n("added"),
      n("removed"), n("changed"), n("unchanged"))
  }
}

/** `bloom_build` — build a Bloom membership filter over a column
  * ([[graft.operators.Bloom.build]]): the bounded (≤ m rows),
  * mergeable, broadcastable form of a blocklist/benchmark set that a
  * 100 TB decontamination pass ships to every probe site.
  *
  * Args: `input`, `output_path`; optional `value_col` (text),
  * `k` (4), `m` (4096).
  */
object BloomBuildPlugin extends StepPlugin {
  val name = "bloom_build"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val valueCol = ctx.argStr("value_col", "text")
    val k = ctx.argInt("k", 4)
    val m = ctx.argInt("m", 4096)
    Counted.output(graft.operators.Bloom.build(
        ctx.spark.read.parquet(ctx.argStr("input")), col(valueCol), k, m),
      out, "n_bits" -> Counted.rows) ++ Map("k" -> k.toLong, "m" -> m.toLong)
  }
}

/** `bloom_probe` — probe a corpus against a [[BloomBuildPlugin]]
  * filter ([[graft.operators.Bloom.probe]]); with `drop_members: true`
  * writes the decontaminated corpus (maybe-members removed — the
  * false-positive-only direction that can drop a clean doc but never
  * leak a benchmark one), otherwise the per-id verdict table.
  *
  * Args: `input`, `filter_path`, `output_path`; optional `id_col`
  * (doc_id), `value_col` (text), `k` (4), `m` (4096),
  * `drop_members` (false).
  *
  * `n_rows` rides the write, and so does `n_flagged` for the verdict
  * table; the cleaned corpus has no verdicts, so there `n_flagged`
  * counts the flagged ids the write cached, without a second probe.
  */
object BloomProbePlugin extends StepPlugin {
  val name = "bloom_probe"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val idCol = ctx.argStr("id_col", "doc_id")
    val valueCol = ctx.argStr("value_col", "text")
    val k = ctx.argInt("k", 4)
    val m = ctx.argInt("m", 4096)
    val corpus = ctx.spark.read.parquet(ctx.argStr("input"))
    val filter = ctx.spark.read.parquet(ctx.argStr("filter_path"))
    val verdict = graft.operators.Bloom.probe(
      corpus, col(idCol), col(valueCol), filter, k, m)
    if (ctx.argBool("drop_members", default = false)) {
      // the write fills this cache, and n_flagged counts it: one probe
      val flagged = verdict.filter(col("maybe_member"))
        .select(col("id").as(idCol)).persist(StorageLevel.MEMORY_AND_DISK)
      try Counted.output(corpus.join(flagged, Seq(idCol), "left_anti"),
          out, "n_rows" -> Counted.rows) ++
        Map("n_flagged" -> flagged.count())
      finally flagged.unpersist()
    } else Counted.output(verdict.withColumnRenamed("id", idCol), out,
      "n_rows" -> Counted.rows,
      "n_flagged" -> sum(when(col("maybe_member"), 1)))
  }
}
