package graft.runner

import graft.SparkSpecBase

/** examples/training_cut.yml at sf0.001, run once through [[TaggedRun]].
  *
  * Two contracts ride on that one run:
  *  - every `StepResult` field of the ten steps, which interpolation,
  *    the ledger and perfbench's row flow read;
  *  - the jobs each step submits, so a counter that goes back to its own
  *    recount or re-read job shows up as a failed count here.
  */
class TrainingCutStepsSpec extends SparkSpecBase {
  import TrainingCutStepsSpec._

  private lazy val run = TaggedRun(spark, "training_cut.yml")

  test("every StepResult field of the ten training_cut steps is pinned") {
    val got = run.fields
    assert(got.size == Expected.size)
    got.zip(Expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"step $i: got $g, expected $e")
    }
  }

  test("each training_cut step submits its pinned number of Spark jobs") {
    val got = run.jobs
    assert(got == ExpectedJobs, s"jobs per step: got $got")
  }
}

object TrainingCutStepsSpec {
  import TaggedRun.step

  private def out(f: String) = s"String({workdir}/training_cut/260812/$f)"

  /** Recorded at commit 87e38b6, before any counter rode the write. */
  val Expected: Seq[Map[String, String]] = Seq(
    step("output_path" -> out("scrubbed.parquet"), "n_docs" -> "Long(500)",
      "n_emails" -> "Long(0)", "n_ips" -> "Long(0)", "n_phones" -> "Long(0)"),
    step("output_path" -> out("deduped.parquet"), "n_in" -> "Long(500)",
      "n_kept" -> "Long(476)", "n_dropped" -> "Long(24)"),
    step("output_path" -> out("benchmark.parquet"),
      "n_tables" -> "Integer(1)"),
    step("output_path" -> out("clean.parquet"), "n_in" -> "Long(476)",
      "n_kept" -> "Long(458)", "n_contaminated" -> "Long(18)"),
    step("output_path" -> out("mixture.parquet"), "n_in" -> "Long(458)",
      "n_out" -> "Long(642)"),
    step("output_path" -> out("packed.parquet"), "n_docs" -> "Long(642)",
      "n_packs" -> "Long(150)"),
    step("output_path" -> out("shards"), "n_rows" -> "Long(642)",
      "n_shards" -> "Long(4)"),
    step("output_path" -> out("shards_epoch1"), "n_rows" -> "Long(642)",
      "n_shards" -> "Long(4)"),
    step("output_path" -> out("manifest_epoch0.parquet"),
      "n_docs" -> "Long(642)", "n_shards" -> "Long(4)"),
    step("output_path" -> out("manifest_epoch1.parquet"),
      "n_docs" -> "Long(642)", "n_shards" -> "Long(4)"))

  /** Jobs per step once no counter has a job of its own. At commit
    * 87e38b6 the steps ran 8, 24, 2, 16, 9, 14, 9, 9, 6 and 6 jobs
    * (103 in all); the difference was recount and re-read jobs. */
  val ExpectedJobs: Seq[(String, Int)] = Seq("text_scrub" -> 3,
    "text_dedup" -> 19, "sql_transform" -> 2, "text_decontaminate" -> 11,
    "text_resample" -> 4, "text_pack" -> 12, "corpus_shard" -> 3,
    "corpus_shard" -> 3, "shard_manifest" -> 3, "shard_manifest" -> 3)
}
