package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.runner.plugins.DefaultRegistry
import graft.spec.SysContext

/** One example pipeline at sf0.001, run with every plugin it names
  * wrapped the way perfbench's traced run wraps them, so each Spark job
  * is tagged with the step that submitted it.
  *
  * The result carries two contracts:
  *  - every `StepResult` field of every step, rendered with its runtime
  *    type, which interpolation, the ledger and perfbench's row flow
  *    read;
  *  - the jobs each step submits, so a counter that goes back to its
  *    own recount or re-read job shows up as a changed count.
  */
object TaggedRun {
  private val StepKey = "graft.test.step"
  private val PluginLine = """(?m)^\s*plugin:\s*"?([^"\s]+)"?\s*$""".r

  final case class Result(fields: Seq[Map[String, String]],
                          jobs: Seq[(String, Int)])

  def apply(spark: SparkSession, example: String): Result = {
    val yaml = Paths.get(s"examples/$example").toAbsolutePath
    val plugins = PluginLine.findAllMatchIn(Files.readString(yaml))
      .map(_.group(1)).toSeq.distinct
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(StepKey)))
          .foreach(k => jobs.computeIfAbsent(k, _ => new AtomicInteger())
            .incrementAndGet())
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val work = Files.createTempDirectory("graft_tagged")
    val calls = ArrayBuffer.empty[String]
    val defaults = DefaultRegistry()
    val registry = new Registry(
      plugins.map(n => new Tagged(defaults.resolve(n), calls)))
    val res = try {
      val r = new PipelineRunner(registry, Map("workdir" -> work.toString),
        () => spark, assetRoots = Seq(Paths.get("examples").toAbsolutePath),
        sysContext = Some(SysContext(
          java.time.LocalDateTime.of(2026, 8, 12, 10, 0, 0), "test01")))
        .runFile(yaml)
      TestListenerBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    val rendered = res.results.map(r =>
      r.fields.map { case (k, v) => k -> render(v, work) } +
        ("skipped" -> r.skipped.toString))
    val perStep = calls.toSeq.zipWithIndex.map { case (n, i) =>
      n -> Option(jobs.get(s"$i:$n")).fold(0)(_.get())
    }
    Result(rendered, perStep)
  }

  /** Tags every job the wrapped plugin submits with its invocation index
    * and name; SQL executions carry the local property into their
    * broadcast and stage threads. */
  private final class Tagged(inner: StepPlugin, calls: ArrayBuffer[String])
      extends StepPlugin {
    def name: String = inner.name
    def run(ctx: StepContext): StepResult = {
      val sc = ctx.spark.sparkContext
      val prev = sc.getLocalProperty(StepKey)
      val tag = calls.synchronized {
        calls += inner.name
        s"${calls.size - 1}:${inner.name}"
      }
      sc.setLocalProperty(StepKey, tag)
      try inner.run(ctx) finally sc.setLocalProperty(StepKey, prev)
    }
  }

  /** A field's value with its runtime type, the workdir shown as
    * `{workdir}`: `Long(5000)` and `Integer(5000)` are different
    * contracts to a reader that casts. */
  private def render(v: Any, work: Path): String =
    s"${v.getClass.getSimpleName}(${v.toString.replace(work.toString, "{workdir}")})"

  /** The rendered fields of a step that ran: `fields` plus
    * `skipped -> false`. */
  def step(fields: (String, String)*): Map[String, String] =
    fields.toMap + ("skipped" -> "false")
}
