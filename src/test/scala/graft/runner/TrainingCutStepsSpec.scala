package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpecBase
import graft.runner.plugins.DefaultRegistry
import graft.spec.SysContext

/** examples/training_cut.yml at sf0.001, run once with every plugin
  * wrapped the way perfbench's traced run wraps them, so each Spark job
  * is tagged with the step that submitted it.
  *
  * Two contracts ride on that one run:
  *  - every `StepResult` field of the ten steps, which interpolation,
  *    the ledger and perfbench's row flow read;
  *  - the jobs each step submits, so a counter that goes back to its own
  *    recount or re-read job shows up as a failed count here.
  */
class TrainingCutStepsSpec extends SparkSpecBase {
  import TrainingCutStepsSpec._

  private lazy val run: (Path, Seq[Map[String, String]], Seq[(String, Int)]) = {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(StepKey)))
          .foreach(k => jobs.computeIfAbsent(k, _ => new AtomicInteger())
            .incrementAndGet())
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val work = Files.createTempDirectory("graft_cut_steps")
    val seq = new AtomicInteger()
    val defaults = DefaultRegistry()
    val registry = new Registry(Plugins.map(n => new Tagged(defaults.resolve(n), seq)))
    val res = try {
      val r = new PipelineRunner(registry, Map("workdir" -> work.toString),
        () => spark, assetRoots = Seq(Paths.get("examples").toAbsolutePath),
        sysContext = Some(SysContext(
          java.time.LocalDateTime.of(2026, 8, 12, 10, 0, 0), "test01")))
        .runFile(Paths.get("examples/training_cut.yml").toAbsolutePath)
      TestListenerBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    val rendered = res.results.map(r =>
      r.fields.map { case (k, v) => k -> render(v, work) } +
        ("skipped" -> r.skipped.toString))
    val perStep = (0 until seq.get()).map { i =>
      val k = jobs.keySet().toArray.map(_.toString).find(_.startsWith(s"$i:"))
      (k.map(_.drop(s"$i:".length)).getOrElse("?"),
        k.map(jobs.get(_).get()).getOrElse(0))
    }
    (work, rendered, perStep)
  }

  test("every StepResult field of the ten training_cut steps is pinned") {
    val (_, got, _) = run
    assert(got.size == Expected.size)
    got.zip(Expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"step $i: got $g, expected $e")
    }
  }

  test("each training_cut step submits its pinned number of Spark jobs") {
    val (_, _, got) = run
    assert(got == ExpectedJobs, s"jobs per step: got $got")
  }
}

object TrainingCutStepsSpec {
  private val StepKey = "graft.test.step"
  private val Plugins = Seq("text_scrub", "text_dedup", "sql_transform",
    "text_decontaminate", "text_resample", "text_pack", "corpus_shard",
    "shard_manifest")

  /** Tags every job the wrapped plugin submits with its invocation index
    * and name; SQL executions carry the local property into their
    * broadcast and stage threads. */
  private final class Tagged(inner: StepPlugin, seq: AtomicInteger)
      extends StepPlugin {
    def name: String = inner.name
    def run(ctx: StepContext): StepResult = {
      val sc = ctx.spark.sparkContext
      val prev = sc.getLocalProperty(StepKey)
      sc.setLocalProperty(StepKey, s"${seq.getAndIncrement()}:${inner.name}")
      try inner.run(ctx) finally sc.setLocalProperty(StepKey, prev)
    }
  }

  /** A field's value with its runtime type, the workdir shown as
    * `{workdir}`: `Long(5000)` and `Integer(5000)` are different
    * contracts to a reader that casts. */
  private def render(v: Any, work: Path): String =
    s"${v.getClass.getSimpleName}(${v.toString.replace(work.toString, "{workdir}")})"

  private def out(f: String) = s"String({workdir}/training_cut/260812/$f)"

  private def step(fields: (String, String)*): Map[String, String] =
    fields.toMap + ("skipped" -> "false")

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
