package graft.runner

import org.apache.spark.sql.SparkSession

import graft.spec.Scope

/** Plugin SPI (SURVEY §7.2) — the engine's operator registry surface,
  * keyed by the YAML plugin names. The reference dispatches each step to
  * an external Python program (`plugin: echo.py`,
  * /root/reference/pipelines/sample_steps.yml:8); here a step is an
  * in-process Scala call, usually submitting Spark jobs.
  */
trait StepPlugin extends Serializable {
  /** Canonical name (without `.py`, with namespace: `geo/geo_raster_spi`). */
  def name: String
  def run(ctx: StepContext): StepResult
}

/** Collector for `pipeline_execute mode: async` children: a step submits
  * work and returns immediately; the RUNNER awaits every handle at the
  * end of the invoking pipeline and merges the results (the reference's
  * synchronized/async contract, SURVEY §2.1 O3). The default `inline`
  * instance runs the body synchronously — directly-constructed contexts
  * (tests, ad-hoc embedding) keep synchronized semantics. */
final class AsyncRuns(exec: Option[java.util.concurrent.ExecutorService]) {
  private val handles =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (String, java.util.concurrent.Future[StepResult])]()

  def submit(label: String)(body: => StepResult): Unit = exec match {
    case Some(pool) =>
      handles.add(label -> pool.submit(
        new java.util.concurrent.Callable[StepResult] { def call() = body }))
    case None => val r = body; val _ = r // inline: synchronized fallback
  }

  /** Await EVERY submitted child before reporting: a failed child must
    * not abandon the ones still running (they would keep going detached
    * and their outcomes would be lost) — all futures are joined first,
    * then the first failure is rethrown with the others suppressed. */
  def drain(): List[(String, StepResult)] = {
    var out = List.empty[(String, StepResult)]
    var failures = List.empty[Throwable]
    var h = handles.poll()
    while (h != null) {
      try out = (h._1 -> h._2.get()) :: out
      catch {
        case e: java.util.concurrent.ExecutionException =>
          failures = Option(e.getCause).getOrElse(e) :: failures
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); failures = e :: failures
      }
      h = handles.poll()
    }
    failures.reverse match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => out.reverse
    }
  }
}

object AsyncRuns {
  /** Executes submissions on the calling thread (no pipeline-end merge
    * needed — results are complete when submit returns). */
  def inline: AsyncRuns = new AsyncRuns(None)
}

/** Everything a plugin sees for one invocation.
  *
  * The typed readers (`argStr`, `argInt`, `argLong`, `argDouble` and
  * `argBool`, given a default or required, and the `…Opt` forms of an
  * optional arg) are the only code that turns an arg value into a typed
  * value: each goes through one parse, and a value that does not read
  * as the type fails naming the key, the type and the value. `argOpt`
  * hands out the raw value and is for structured args only (maps and
  * lists). */
final case class StepContext(
    /** Fully interpolated argument map for this invocation. */
    args: Map[String, Any],
    scope: Scope,
    /** Lazy session — pure-driver plugins never start Spark. */
    sparkProvider: () => SparkSession,
    runner: PipelineRunner,
    /** Source path of the invoking pipeline (sibling-relative refs). */
    currentPipeline: Option[String] = None,
    /** Async-child collector for this pipeline run. */
    async: AsyncRuns = AsyncRuns.inline) {

  def spark: SparkSession = sparkProvider()

  private def missing(key: String): Nothing =
    throw new IllegalArgumentException(s"missing arg '$key' in $args")

  /** The one parse of an arg value; `kind` names the type in the error.
    * SnakeYAML reads a bare `2024-06-01` or `2024-06-01T12:00:00Z` as a
    * `java.util.Date`, which reads back as ISO-8601 text: a date when it
    * falls on a UTC midnight, else the instant. */
  private def parse[A](key: String, kind: String)(read: String => A)
      : Option[A] = args.get(key).map { v =>
    val text = v match {
      case d: java.util.Date =>
        val t = d.toInstant.atOffset(java.time.ZoneOffset.UTC)
        if (t.toLocalTime == java.time.LocalTime.MIDNIGHT)
          t.toLocalDate.toString
        else d.toInstant.toString
      case _ => v.toString
    }
    try read(text)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"arg '$key' must be $kind, got '$v'", e) }
  }
  private def long(key: String) = parse(key, "a Long")(_.toLong)

  def arg(key: String): Any = args.getOrElse(key, missing(key))
  def argOpt(key: String): Option[Any] = args.get(key)
  def argStr(key: String): String = argStrOpt(key).getOrElse(missing(key))
  def argStr(key: String, default: String): String =
    argStrOpt(key).getOrElse(default)
  def argStrOpt(key: String): Option[String] = parse(key, "a string")(identity)
  def argInt(key: String): Int = argIntOpt(key).getOrElse(missing(key))
  def argInt(key: String, default: Int): Int = argIntOpt(key).getOrElse(default)
  def argIntOpt(key: String): Option[Int] = parse(key, "an Int")(_.toInt)
  def argLong(key: String): Long = long(key).getOrElse(missing(key))
  def argLong(key: String, default: Long): Long = long(key).getOrElse(default)
  def argDouble(key: String, default: Double): Double =
    argDoubleOpt(key).getOrElse(default)
  def argDoubleOpt(key: String): Option[Double] =
    parse(key, "a Double")(_.toDouble)
  def argBool(key: String, default: Boolean): Boolean =
    parse(key, "a Boolean")(_.toBoolean).getOrElse(default)
  /** First present key wins — plugins accept the reference's YAML arg
    * names AND the engine's (verbatim reference pipelines must run). */
  def argAnyStr(keys: String*): String =
    keys.iterator.flatMap(argStrOpt).nextOption().getOrElse(
      throw new IllegalArgumentException(
        s"missing arg (any of ${keys.mkString("/")}) in $args"))
  /** A list arg: a YAML list gives its elements and a scalar is a
    * one-element list (`urls: a` reads as `urls: [a]`). */
  def argList(key: String): Option[Seq[String]] = args.get(key).map {
    case l: Seq[_] => l.map(_.toString)
    case s => Seq(s.toString)
  }
  /** `overwrite: false` is the reference's idempotence contract
    * (e.g. /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:22). */
  def overwrite: Boolean = argBool("overwrite", default = false)

  /** Resolve a possibly-relative FILESYSTEM arg the way the reference's
    * executor does: its cli runs from the checkout root, so YAML paths
    * like `catalog_json: .runs/catalog/catalog.json` or
    * `catalog_repo: ../landcore-data-catalog`
    * (/root/reference/pipelines/tiger/county.yml:9-10) are relative to
    * that root. Here the root is the runner's FIRST asset root
    * (default `.` — process CWD, the drop-in equivalent). Unlike
    * [[PipelineRunner.resolvePath]] this never requires existence: it
    * also names WRITE targets. */
  def fsPath(s: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(s)
    if (p.isAbsolute) p
    else runner.checkoutRoot.resolve(s).normalize()
  }
}

object StepContext {
  /** Split one `key=value` pair at its first `=` (`vars_kv`, `weights`,
    * the CLI's overrides); a pair without `=` fails naming it. */
  def splitPair(pair: String): (String, String) = pair.split("=", 2) match {
    case Array(k, v) => (k, v)
    case _ => throw new IllegalArgumentException(
      s"malformed pair '$pair': expected key=value")
  }
}

/** Structured step result; fields are visible to later steps via
  * `{output_var.field}` (/root/reference/pipelines/tiger/county.yml:41,47). */
final case class StepResult(fields: Map[String, Any] = Map.empty,
                            skipped: Boolean = false) {
  def ++(more: Map[String, Any]): StepResult = copy(fields = fields ++ more)
}

/** Plugin registry. Lookup normalizes the reference's naming variants:
  * with/without `.py`, with/without the `geo/` namespace
  * (`plugin: echo` vs `echo.py` vs `geo/geo_raster_spi.py` —
  * /root/reference/pipelines/sample.yml:7, sample_steps.yml:8,
  * pipelines/prism/stage-ts-ppt-day-mi-spi-3d.yml:22).
  */
final class Registry(plugins: Seq[StepPlugin]) {
  private val byName: Map[String, StepPlugin] =
    plugins.flatMap { p =>
      val base = p.name.stripSuffix(".py")
      val short = base.split('/').last
      Seq(base -> p, short -> p)
    }.toMap

  def resolve(yamlName: String): StepPlugin = {
    val norm = yamlName.stripSuffix(".py")
    byName.get(norm).orElse(byName.get(norm.split('/').last)).getOrElse(
      throw new IllegalArgumentException(s"unknown plugin: $yamlName"))
  }

  def withPlugins(more: Seq[StepPlugin]): Registry =
    new Registry(byName.values.toSeq.distinct ++ more)
}
