package graft.runner

import graft.SparkSpecBase

/** Five example pipelines at sf0.001, each run once through
  * [[TaggedRun]]: every `StepResult` field of every step, with its
  * runtime type, and the Spark jobs each step submits.
  *
  * The fields were recorded at commit 18ddc36, while plugins still
  * wrote parquet by hand and ten counters had a recount or re-read job
  * of their own; they hold that moving those counters onto the write
  * changed no value and no type. At 18ddc36 the changed steps ran
  * text_drift 25, text_cross_dedup 21, text_term_index 10,
  * embedding_ann 23, text_leakage_split 22 and the verdicts bloom_probe
  * 11 jobs. At bbae2de, before the graph plugins left their dedup to
  * the operators and the cleaned-corpus bloom_probe stopped probing
  * twice, graph_triangles and graph_kcore ran 7 jobs each and the
  * cleaned-corpus bloom_probe 12.
  */
class ExampleStepsSpec extends SparkSpecBase {
  import ExampleStepsSpec._

  Examples.foreach { p =>
    lazy val run = TaggedRun(spark, p.example)

    test(s"every StepResult field of ${p.example} is pinned") {
      assert(run.fields.size == p.fields.size, s"got ${run.fields}")
      run.fields.zip(p.fields).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"step $i: got $g, expected $e")
      }
    }

    test(s"each ${p.example} step submits its pinned number of Spark jobs") {
      val got = run.jobs.filterNot { case (n, _) => Unpinned(n) }
      assert(got == p.jobs, s"jobs per step: got ${run.jobs}")
    }
  }
}

object ExampleStepsSpec {
  import TaggedRun.step

  final case class Pinned(example: String, fields: Seq[Map[String, String]],
                          jobs: Seq[(String, Int)])

  /** A path under the example's output directory. */
  private def out(example: String)(f: String): String =
    s"String({workdir}/$example/260812/$f)"

  private def long(n: Long) = s"Long($n)"

  /** Plugins whose job count moves between runs of the same input:
    * event_funnel's chain of joins over one repartitioned frame has run
    * 8 and 10 jobs, as AQE re-plans the joins while their map stages
    * finish. */
  private val Unpinned = Set("event_funnel")

  private val refresh = out("refresh_gate") _
  private val audit = out("corpus_audit") _
  private val curation = out("curation_suite") _
  private val decon = out("decontamination") _
  private val events = out("event_analytics") _

  val Examples: Seq[Pinned] = Seq(
    Pinned("refresh_gate.yml", Seq(
      step("n_tables" -> "Integer(1)",
        "output_path" -> refresh("reference.parquet")),
      step("n_tables" -> "Integer(1)",
        "output_path" -> refresh("new.parquet")),
      step("output_path" -> refresh("drift.parquet"),
        "n_terms" -> long(25), "max_ratio" -> "Double(1.2792470310789186)",
        "oov_path" -> refresh("oov.parquet"),
        "worst_oov_rate" -> "Double(0.0)"),
      step("output_path" -> refresh("clean.parquet"), "n_in" -> long(428),
        "n_matched" -> long(7), "n_kept" -> long(421))),
      Seq("sql_transform" -> 2, "sql_transform" -> 2, "text_drift" -> 23,
        "text_cross_dedup" -> 19)),
    Pinned("corpus_audit.yml", Seq(
      step("dup_spans_path" -> audit("spans/dup_spans.parquet"),
        "dup_coverage_path" -> audit("spans/dup_coverage.parquet"),
        "source_overlap_path" -> audit("spans/source_overlap.parquet"),
        "n_docs" -> long(500), "n_flagged" -> long(45),
        "n_source_pairs" -> long(24)),
      step("term_topk_path" -> audit("terms/term_topk.parquet"),
        "inverted_index_path" -> audit("terms/inverted_index.parquet"),
        "n_terms" -> long(16506), "n_docs" -> long(500)),
      step("output_path" -> audit("cosine_pairs.parquet"),
        "n_pairs" -> long(28)),
      step("target_uri" ->
          "String(gdrive://examples/corpus_audit/source_overlap)",
        "published_dir" -> audit(
          "published/gdrive/examples/corpus_audit/source_overlap"),
        "n_published" -> "Integer(4)", "n_skipped" -> "Integer(0)")),
      Seq("text_span_audit" -> 18, "text_term_index" -> 8,
        "text_cosine_pairs" -> 14, "publish_target" -> 0)),
    Pinned("curation_suite.yml", Seq(
      step("output_path" -> curation("lm_scores.parquet"),
        "n_scored" -> long(450), "n_oov_docs" -> long(374)),
      step("output_path" -> curation("dsir.parquet"), "n_docs" -> long(500)),
      step("output_path" -> curation("curriculum.parquet"),
        "n_docs" -> long(500)),
      step("output_path" -> curation("semdedup.parquet"),
        "n_in" -> long(500), "n_kept" -> long(309)),
      step("output_path" -> curation("outliers.parquet"),
        "n_vectors" -> long(309), "n_outliers" -> long(30)),
      step("n_tables" -> "Integer(1)",
        "output_path" -> curation("edges.parquet")),
      step("output_path" -> curation("pagerank.parquet"),
        "n_nodes" -> long(500)),
      step("output_path" -> curation("budget.parquet"),
        "n_out" -> long(500), "n_kept" -> long(348)),
      step("output_path" -> curation("bpe_merges.parquet"),
        "n_merges" -> long(8)),
      step("output_path" -> curation("floor.parquet"),
        "n_out" -> long(500), "n_kept" -> long(380)),
      step("n_tables" -> "Integer(1)",
        "output_path" -> curation("tri_edges.parquet")),
      step("output_path" -> curation("triangles.parquet"),
        "n_nodes" -> long(500), "n_closed" -> long(500)),
      step("output_path" -> curation("kcore.parquet"),
        "n_nodes" -> long(500), "n_converged" -> long(500)),
      step("index_path" -> curation("ivf_index.parquet"),
        "n_indexed" -> long(309), "n_clusters" -> long(8),
        "topk_path" -> curation("ann_topk.parquet"),
        "n_answers" -> long(927)),
      step("output_path" -> curation("leakage_split.parquet"),
        "n_docs" -> long(500), "n_train" -> long(447), "n_val" -> long(53)),
      step("output_path" -> curation("cluster_weights.parquet"),
        "n_docs" -> long(500), "n_clustered" -> long(45)),
      step("output_path" -> curation("topic_pairs.parquet"),
        "n_pairs" -> long(352)),
      step("output_path" -> curation("group_sample.parquet"),
        "n_sampled" -> long(100), "n_groups" -> long(20))),
      Seq("text_lm_score" -> 14, "text_dsir" -> 11, "text_curriculum" -> 8,
        "embedding_semdedup" -> 15, "embedding_outliers" -> 6,
        "sql_transform" -> 3, "graph_pagerank" -> 36, "text_budget_cap" -> 8,
        "text_bpe_learn" -> 20, "text_quality_floor" -> 8,
        "sql_transform" -> 3, "graph_triangles" -> 6, "graph_kcore" -> 6,
        "embedding_ann" -> 21, "text_leakage_split" -> 17,
        "text_cluster_weights" -> 14, "text_topic_pairs" -> 17,
        "text_group_sample" -> 7)),
    Pinned("decontamination.yml", Seq(
      step("n_tables" -> "Integer(1)",
        "output_path" -> decon("benchmark.parquet")),
      step("output_path" -> decon("filter"), "k" -> long(4),
        "m" -> long(4096), "n_bits" -> long(106)),
      step("output_path" -> decon("verdicts"), "n_rows" -> long(500),
        "n_flagged" -> long(27)),
      step("output_path" -> decon("clean"), "n_rows" -> long(473),
        "n_flagged" -> long(27)),
      step("output_path" -> decon("shards"), "n_rows" -> long(473),
        "n_shards" -> long(4))),
      Seq("sql_transform" -> 2, "bloom_build" -> 3, "bloom_probe" -> 6,
        "bloom_probe" -> 10, "corpus_shard" -> 3)),
    Pinned("event_analytics.yml", Seq(
      step("output_path" -> events("funnel.parquet"),
        "n_entered" -> long(15), "n_converted" -> long(15)),
      step("output_path" -> events("retention.parquet"),
        "n_cells" -> long(5), "n_cohorts" -> long(1)),
      step("output_path" -> events("scd2.parquet"),
        "n_intervals" -> long(802), "n_current" -> long(15)),
      step("output_path" -> events("cms.parquet"),
        "n_counters" -> long(121),
        "estimates_path" -> events("cms_token_est.parquet"),
        "n_estimated" -> long(31)),
      step("output_path" -> events("value_quantiles.parquet"),
        "n_quantiles" -> long(4))),
      Seq("event_retention" -> 9, "event_scd2" -> 3,
        "sketch_count_min" -> 12, "sketch_quantiles" -> 10)))
}
