package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.spec._

/** The pipeline executor (SURVEY §3) — replaces the reference's external
  * `cli.py run <pipeline> --env <env> --project-id <id>` orchestrator
  * (/root/reference/pipelines/prism/README.md:13).
  *
  * Lifecycle per §3.1: resolve → parse (BOM-tolerant) → bind scope
  * (env → sys → vars → dirs, dirs auto-created) → execute steps in file
  * order with `foreach`/`sequential_foreach` fan-out → collect
  * `output_var` records. `requires_pipelines` run first, topologically,
  * memoized per-session (§3.3 step 0). The materialization ledger gives
  * the reference's idempotent re-run semantics (§4).
  *
  * Parallelism: `foreach` fans out on a bounded pool; `parallel_with`
  * names a shared concurrency group (one bounded pool per group —
  * pipelines/prism/county_daily_aggregate_parent.yml:21);
  * `sequential_foreach` is an ordered loop
  * (county_daily_aggregate_child.yml:33). Spark jobs submitted from
  * concurrent steps share the session's FAIR-capable scheduler.
  */
final class PipelineRunner(
    registry: Registry,
    env: Map[String, Any],
    sparkProvider: () => SparkSession,
    /** Roots to resolve pipeline paths against (asset sources,
      * priority-ordered — pipelines/sample_step.yml:111-127). */
    assetRoots: Seq[Path] = Seq(Paths.get(".")),
    foreachParallelism: Int = 4,
    sysContext: Option[SysContext] = None) {

  /** The runner's "checkout root" — what relative filesystem args in
    * YAML steps resolve against ([[StepContext.fsPath]]): the first
    * asset root, mirroring the reference executor's run-from-checkout
    * convention. */
  private[runner] def checkoutRoot: Path =
    assetRoots.headOption.getOrElse(Paths.get("."))

  /** path → completed run (memoized requires_pipelines, §3.3). */
  private val memo = new ConcurrentHashMap[String, RunResult]()
  /** path → latch while a run is in flight (so concurrent requirers wait
    * instead of re-running; computeIfAbsent is NOT usable here — the
    * mapping function recurses into runPipeline → runRequired, and a
    * re-entrant computeIfAbsent on the same map is forbidden). */
  private val inFlight = new ConcurrentHashMap[String, CountDownLatch]()
  /** per-thread chain of requires_pipelines being resolved — cycles in
    * the dependency graph fail fast instead of recursing forever. The
    * chain must FOLLOW the run across thread hops (foreach futures,
    * async pipeline_execute children), or a cycle crossing a pool
    * boundary would park forever on the in-flight latch instead of
    * failing — [[capturedChain]]/[[withChain]] carry it over. */
  private val requireChain: ThreadLocal[List[String]] =
    ThreadLocal.withInitial(() => Nil)

  /** Snapshot of the calling thread's requires-resolution chain. */
  private[runner] def capturedChain: List[String] = requireChain.get()

  /** Run `body` with the given chain installed (restores the previous
    * value) — used when a run continues on a different thread. */
  private[runner] def withChain[T](chain: List[String])(body: => T): T = {
    val prev = requireChain.get()
    requireChain.set(chain)
    try body finally requireChain.set(prev)
  }
  private val groupPools = new ConcurrentHashMap[String, ExecutionContext]()
  /** Shared pool for `pipeline_execute mode: async` children. */
  private[runner] lazy val asyncPool =
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-async-pipeline")
      t.setDaemon(true)
      t
    })

  final case class RunResult(pipeline: Pipeline, scope: Scope,
                             results: List[StepResult])

  def runFile(path: Path, overrides: Map[String, Any] = Map.empty): RunResult =
    runPipeline(Yaml.loadPipeline(resolvePath(path, None)), overrides)

  /** Resolve relative pipeline refs: sibling-relative first
    * (`requires_pipelines: ../cdl/...`,
    * pipelines/prism/prism-mi-corn-ppt-county.yml:3-7), then asset roots
    * in priority order. */
  def resolvePath(p: Path, relativeTo: Option[Path]): Path = {
    if (p.isAbsolute && Files.exists(p)) return p
    val candidates =
      relativeTo.map(_.resolveSibling(p.toString).normalize).toSeq ++
        assetRoots.map(_.resolve(p.toString).normalize)
    candidates.find(Files.exists(_)).getOrElse(
      throw new IllegalArgumentException(
        s"pipeline not found: $p (tried ${candidates.mkString(", ")})"))
  }

  /** Memoized dependency run — once per session per canonical path.
    * Resolution happens OUTSIDE the memo map (get → run → putIfAbsent):
    * chained requires_pipelines recurse back into this method, and a
    * re-entrant `computeIfAbsent` throws "Recursive update" (or
    * livelocks when keys share a bin). Concurrent requirers of the same
    * path wait on an in-flight latch; same-thread re-entry on a path
    * already being resolved is a dependency CYCLE and fails fast. */
  def runRequired(ref: String, requiredBy: Option[String]): RunResult = {
    val path = resolvePath(Paths.get(ref), requiredBy.map(Paths.get(_)))
    val key = path.toRealPath().toString
    val chain = requireChain.get()
    if (chain.contains(key))
      throw new IllegalStateException(
        s"requires_pipelines cycle: ${(key :: chain).reverse.mkString(" -> ")}")
    var result = memo.get(key)
    while (result == null) {
      val latch = new CountDownLatch(1)
      val existing = inFlight.putIfAbsent(key, latch)
      if (existing == null) {
        try {
          requireChain.set(key :: chain)
          try {
            val r = runPipeline(Yaml.loadPipeline(path), Map.empty)
            memo.put(key, r)
          } finally requireChain.set(chain)
        } finally {
          inFlight.remove(key)
          latch.countDown()
        }
      } else existing.await() // another thread is running it; retry loop
      result = memo.get(key)
    }
    result
  }

  /** pipeline_execute entry: resolve relative to the invoking pipeline
    * first, then asset roots. */
  def runRelative(ref: String, relativeTo: Option[String],
                  overrides: Map[String, Any]): RunResult = {
    val path = resolvePath(Paths.get(ref), relativeTo.map(Paths.get(_)))
    runPipeline(Yaml.loadPipeline(path), overrides)
  }

  def runPipeline(p: Pipeline,
                  overrides: Map[String, Any]): RunResult = {
    // 0. dependencies first (§3.3)
    p.requiresPipelines.foreach(runRequired(_, p.sourcePath))

    // 1. bind scope: env → sys → vars → dirs (§3.1 step 3)
    var scope = Scope(env = env, vars = p.vars, dirs = p.dirs,
      overrides = overrides,
      sys = sysContext.getOrElse(SysContext.fresh()))

    // 2. dirs auto-created at run start (SURVEY §1.1 `dirs`)
    p.dirs.keys.foreach { k =>
      Interpolator.resolve(p.dirs(k), scope) match {
        case s: String if s.nonEmpty => Files.createDirectories(Paths.get(s))
        case _ => ()
      }
    }

    // 3. execute steps in file order; async children merge at the end.
    // Steps marked `retention: scratch` get their outputs dropped as
    // soon as their last in-pipeline consumer completes (Retention) —
    // nothing is dropped on the failure path (afterStep is skipped).
    val retention = Retention.plan(p, scope)
    val asyncRuns = new AsyncRuns(Some(asyncPool))
    val results = List.newBuilder[StepResult]
    try {
      p.steps.zipWithIndex.foreach { case (step, i) =>
        val stepScope = scope.withStep(i + 1)
        val result = runStep(step, i, stepScope, p.sourcePath, asyncRuns,
          retention)
        results += result
        step.outputVar.foreach { name =>
          scope = scope.withOutput(name, result.fields)
        }
        retention.foreach(_.afterStep(i))
      }
    } catch {
      case t: Throwable =>
        // a failing step must NOT orphan already-submitted async
        // children: the run-is-not-complete-until-every-child-is
        // contract (O3) holds on the failure path too — await them so
        // they neither keep running detached nor lose their own
        // failures (attached as suppressed)
        try asyncRuns.drain()
        catch { case c: Throwable if c ne t => t.addSuppressed(c) }
        throw t
    }
    // 4. merge async pipeline_execute children (the run is not complete
    // until every async child is — reference `mode` contract, O3)
    asyncRuns.drain().foreach { case (label, r) =>
      results += r.copy(fields = r.fields + ("async_child" -> label))
    }
    retention.foreach(_.afterRun())
    RunResult(p, scope, results.result())
  }

  private def runStep(step: Step, idx: Int, scope: Scope,
                      sourcePath: Option[String],
                      asyncRuns: AsyncRuns,
                      retention: Option[Retention.State]): StepResult = {
    val plugin = registry.resolve(step.plugin)

    def invoke(itemScope: Scope): StepResult = {
      val args = Interpolator.resolve(step.args, itemScope)
        .asInstanceOf[Map[String, Any]]
      val ctx = StepContext(args, itemScope, sparkProvider, this,
        sourcePath, asyncRuns)
      // tombstone-aware skip: a dropped intermediate counts as
      // materialized only while every transitive consumer also skips —
      // a missing downstream output re-runs the chain back to here
      if (Ledger.stepSkippable(args, ctx.overwrite) ||
          retention.exists(_.tombstoneSkippable(idx, args, ctx.overwrite)))
        StepResult(skipped = true)
      else withResources(step) {
        retention.foreach(_.stepRan(args)) // re-materializing: clear tombstones
        plugin.run(ctx)
      }
    }

    def items(varName: String): List[Any] =
      Interpolator.resolve(s"{$varName}", scope) match {
        case l: Seq[_] => l.toList
        case other => throw new IllegalArgumentException(
          s"foreach '$varName' is not a list: $other")
      }

    (step.foreach, step.sequentialForeach) match {
      case (Some(varName), _) =>
        val list = items(varName)
        val group = step.parallelWith.getOrElse("__default")
        // pool threads are named exactly "graft-foreach-<group>" — use
        // equality, not startsWith (group "io" must not match a thread
        // of group "io2")
        if (Thread.currentThread().getName == s"graft-foreach-$group")
          // Re-entrant fan-out on the SAME bounded pool (a foreach'd
          // pipeline_execute whose child also runs a foreach in this
          // group): parents would block in Await holding every pool
          // thread while children can never be scheduled — a permanent
          // deadlock. Run the items on the caller thread instead; total
          // concurrency stays bounded by the group's pool size because
          // this thread IS one of its workers.
          mergeResults(list.map(it => invoke(scope.withItem(it))))
        else {
          implicit val ec: ExecutionContext = poolFor(step.parallelWith)
          val chain = capturedChain // follow the run onto pool threads
          val futures = list.map(it =>
            Future(withChain(chain)(invoke(scope.withItem(it)))))
          val all = Await.result(Future.sequence(futures), Duration.Inf)
          mergeResults(all)
        }
      case (None, Some(varName)) =>
        mergeResults(items(varName).map(it => invoke(scope.withItem(it))))
      case (None, None) => invoke(scope)
    }
  }

  /** Honor a step's `resources:` request (reference
    * pipelines/prism/stage-ts-ppt-day-mi-spi-3d.yml:23-24 `mem: 16G`).
    * A live Spark session cannot resize executor memory per job; the
    * faithful mapping is scheduling metadata, set as thread-local job
    * properties for the duration of the step: a dedicated FAIR pool per
    * resource class (so heavy steps don't starve light ones) plus a
    * `graft.step.mem` property that external cluster managers (or a
    * listener) can consume. Set on the INVOKING thread — foreach workers
    * call this inside the task, so concurrent items inherit correctly. */
  private def withResources[T](step: Step)(body: => T): T = {
    if (step.resources.isEmpty) body
    else {
      val sc = sparkProvider().sparkContext
      val oldPool = sc.getLocalProperty("spark.scheduler.pool")
      val oldMem = sc.getLocalProperty("graft.step.mem")
      val mem = step.resources.get("mem").map(_.toString)
      try {
        sc.setLocalProperty("spark.scheduler.pool",
          "resources-" + mem.getOrElse("default"))
        mem.foreach(m => sc.setLocalProperty("graft.step.mem", m))
        body
      } finally {
        sc.setLocalProperty("spark.scheduler.pool", oldPool)
        sc.setLocalProperty("graft.step.mem", oldMem)
      }
    }
  }

  /** Fan-out result record: last non-skipped fields win plus counts. */
  private def mergeResults(rs: Seq[StepResult]): StepResult = {
    val ran = rs.filterNot(_.skipped)
    StepResult(
      fields = ran.lastOption.map(_.fields).getOrElse(Map.empty) ++
        Map("n_invocations" -> rs.size, "n_skipped" -> (rs.size - ran.size)),
      skipped = ran.isEmpty && rs.nonEmpty)
  }

  /** Daemon threads: a completed run must never pin the JVM open (the
    * CLI would otherwise hang after its last step). */
  private def poolFor(group: Option[String]): ExecutionContext =
    groupPools.computeIfAbsent(group.getOrElse("__default"), g =>
      ExecutionContext.fromExecutorService(
        Executors.newFixedThreadPool(foreachParallelism, r => {
          val t = new Thread(r, s"graft-foreach-$g")
          t.setDaemon(true)
          t
        })))
}
