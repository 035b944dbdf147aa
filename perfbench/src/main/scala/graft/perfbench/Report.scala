package graft.perfbench

import graft.MinJson

import Main.OpRecord
import Stats.Span

/** Turns a run's op records into named metrics, and the run into the
  * JSON record the launcher prints from. */
object Report {
  final case class Metric(value: Double, unit: String, samples: Int)

  /** End-to-end metrics over the run's ops. */
  def endToEnd(setupS: Double, ops: Seq[OpRecord]): Map[String, Metric] = {
    val walls = ops.map(_.wallMs)
    val n = walls.size
    val m = Map(
      "setup_s" -> Metric(setupS, "s", 1),
      "op_p50_ms" -> Metric(Stats.median(walls), "ms", n),
      "ops_per_s" -> Metric(n / (walls.sum / 1e3), "1/s", n),
      "op_fail_ratio" -> Metric(ops.count(_.error.nonEmpty).toDouble / n, "ratio", n),
      "peak_rss_mb" -> Metric(peakRssMb, "MB", 1))
    val p90 = Stats.quantile(walls, 0.9).map(v => "op_p90_ms" -> Metric(v, "ms", n))
    val disk = ops.flatMap(_.extra.get("sink.disk_bytes_per_input_byte"))
    val diskM = Option.when(disk.nonEmpty)(
      "disk_bytes_per_input_byte" -> Metric(Stats.median(disk), "B/B", disk.size))
    m ++ p90 ++ diskM
  }

  /** Layer of each span for the self-time split. */
  def selfLayer(layer: String): String = layer match {
    case l if l.startsWith("plugin.") => "self.plugin_ms"
    case l if l.startsWith("catalyst.") => "self.catalyst_ms"
    case l => "self." + l.replace('.', '_') + "_ms"
  }

  /** Per-op layer values of one traced op; the self times (and the
    * unattributed remainder) sum to the op's wall time. */
  def layerValues(o: OpRecord): Map[String, Double] = {
    val t = o.trace.getOrElse(OpTrace(Nil, Map.empty))
    val root = Span("op.unattributed_ms", o.startMs, o.startMs + o.wallMs, 0)
    val self = Stats.selfTimes(root, t.spans.map(s => s.copy(layer = selfLayer(s.layer))))
    def spanMs(p: String => Boolean) =
      t.spans.filter(s => p(s.layer)).map(s => s.end - s.start).sum
    val jobs = t.spans.filter(_.layer == "exec")
    val clip = (s: Span) => (math.max(s.start, root.start), math.min(s.end, root.end))
    val busy = Stats.unionLength(jobs.map(clip))
    val builds = t.spans.filter(_.layer == "build")
    val buildJobs = jobs.count(j => builds.exists(b => j.start >= b.start && j.start <= b.end))
    val plugins = PipelineTrainingCut.Plugins.map(p =>
      s"plugin.${p}_ms" -> spanMs(_ == s"plugin.$p")).toMap
    val cpu = t.counters.getOrElse("exec.task_cpu_ms", 0.0)
    val run = t.counters.getOrElse("exec.task_run_ms", 0.0)
    val drain = t.counters.getOrElse("stream.drain_ms", 0.0)
    t.counters ++ o.extra ++ self ++ plugins ++ Map(
      "op.traced_wall_ms" -> o.wallMs,
      "op.reconcile_gap_ms" -> (o.wallMs - self.values.sum),
      "spec.load_ms" -> spanMs(_ == "spec.load"),
      "runner.self_ms" -> (spanMs(_ == "runner") - plugins.values.sum),
      "build.ms" -> spanMs(_ == "build"),
      "build.jobs" -> buildJobs.toDouble,
      "exec.busy_ms" -> busy,
      "exec.driver_gap_ms" -> (o.wallMs - busy),
      "exec.cpu_ratio" -> (if (run > 0) cpu / run else 0.0),
      "stream.readback_ms" -> (if (drain > 0) o.wallMs - drain else 0.0),
      "jvm.gc_ms" -> o.gcMs,
      "jvm.heap_used_mb" -> o.heapMb,
      "cache.stored_bytes" -> o.cachedBytes)
  }

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") || n == "build.ms" => "ms"
    case n if n.endsWith("bytes") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("ratio") => "ratio"
    case n if n.endsWith("per_input_byte") => "B/B"
    case _ => "count"
  }

  /** Per-layer metrics: the mean per traced op. */
  def perLayer(ops: Seq[OpRecord]): Map[String, Metric] = {
    val traced = ops.filter(_.traced)
    val per = traced.map(layerValues)
    val n = traced.size
    per.flatMap(_.keys).distinct.map(k => k ->
      Metric(per.map(_.getOrElse(k, 0.0)).sum / n, unitOf(k), n)).toMap
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => MinJson.str(k) + ":" + v }.mkString("{", ",", "}")

  private def metrics(m: Map[String, Metric]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> obj(Seq("value" -> num(v.value), "unit" -> MinJson.str(v.unit),
        "samples" -> v.samples.toString))
    })

  def json(workload: String, seed: Long, seconds: Double, trace: Boolean,
           cpus: Int, setupS: Double, ops: Seq[OpRecord],
           conf: Seq[(String, String)]): String = {
    val reconcile = ops.filter(_.traced).map { o =>
      val v = layerValues(o)
      obj(Seq("op" -> o.i.toString, "wall_ms" -> num(o.wallMs)) ++
        v.toSeq.filter(kv => kv._1.startsWith("self.") || kv._1.startsWith("op."))
          .sortBy(_._1).map { case (k, x) => k -> num(x) })
    }
    obj(Seq(
      "workload" -> MinJson.str(workload),
      "seed" -> seed.toString,
      "seconds" -> num(seconds),
      "trace" -> trace.toString,
      "nproc" -> cpus.toString,
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(_.error.nonEmpty).toString,
      "end_to_end" -> metrics(endToEnd(setupS, ops)),
      "per_layer" -> metrics(perLayer(ops)),
      "ops" -> ops.map(o => obj(Seq(
        "op" -> o.i.toString, "label" -> MinJson.str(o.label),
        "traced" -> o.traced.toString, "wall_ms" -> num(o.wallMs),
        "error" -> o.error.map(MinJson.str).getOrElse("null")))).mkString("[", ",", "]"),
      "reconciliation" -> reconcile.mkString("[", ",", "]"),
      "spark_conf" -> obj(conf.map { case (k, v) => k -> MinJson.str(v) })))
  }
}
