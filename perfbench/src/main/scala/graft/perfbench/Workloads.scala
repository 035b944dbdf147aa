package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.StreamingQueries
import graft.runner.{PipelineRunner, Registry, StepContext, StepPlugin, StepResult}
import graft.runner.plugins.DefaultRegistry
import graft.spec.Yaml

/** One workload: set-up (inputs and warm-up, inside `setup_s`), the
  * timed op, and the output checks that run outside the op timer. */
abstract class Workload {
  /** What op `i` runs, for the per-op record. */
  def label(i: Int): String
  def setup(): Unit
  /** Ops come in rounds of this many; a run ends only after a whole
    * round, so every run of a workload measures the same mix. */
  def round: Int = 1
  /** Most ops a run makes, where a later op would be another kind. */
  def maxOps: Int = Int.MaxValue
  /** The timed op. `tr` is set when this op is traced. */
  def op(i: Int, tr: Option[Tracer]): Unit
  /** Right after the op, outside its timer: checks that need the op's
    * fresh state, clean-up, and untimed per-layer values. Returns the
    * failed check, if any. */
  def afterOp(i: Int): (Option[String], Map[String, Double])
  /** End of run: checks against the oracle, as (op index, failure). */
  def verify(ops: Seq[Int]): Seq[(Int, String)] = Nil
}

object Workload {
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build one `SparkEntry` query and materialize it. Traced, the build
    * and the write are spans; a stream query's group drain, which runs
    * inside the build of a generation's first request, is a span within. */
  def runQuery(fn: (SparkSession, String) => DataFrame, spark: SparkSession,
               dir: String, tr: Option[Tracer]): DataFrame = tr match {
    case None =>
      val df = fn(spark, dir); materialize(df); df
    case Some(t) =>
      val g0 = StreamingQueries.drainSecondsTotal
      val t0 = Clock.nowMs
      val df = t.span("build", Depth.Top)(fn(spark, dir))
      val drainMs = (StreamingQueries.drainSecondsTotal - g0) * 1e3
      if (drainMs > 0) {
        t.record(Stats.Span("stream.drain", t0, t0 + drainMs, Depth.Plugin))
        t.add("stream.drain_ms", drainMs)
      }
      t.span("materialize", Depth.Top)(materialize(df))
      t.phases(df.queryExecution)
      df
  }

  /** Row count of `SELECT count(*)` over each oracle query, through
    * the jdbc:duckdb driver over the same parquet tables. */
  def duckCounts(dir: String, names: Seq[String]): Map[String, Either[String, Long]] =
    graft.sources.DuckGate.withDuck {
      val con = java.sql.DriverManager.getConnection("jdbc:duckdb:")
      try {
        val st = con.createStatement()
        graft.Tables.names.foreach { t =>
          val p = new java.io.File(s"$dir/$t.parquet")
          if (p.exists()) st.execute(
            s"CREATE VIEW $t AS SELECT * FROM read_parquet('${p.getAbsolutePath}')")
        }
        names.map { n =>
          n -> (SparkEntry.oracleSql.get(n) match {
            case None => Left(s"$n has no oracle query")
            case Some(sql) =>
              try {
                val body = sql.trim.stripSuffix(";")
                val rs = st.executeQuery(s"SELECT count(*) FROM ($body) AS q")
                rs.next(); Right(rs.getLong(1))
              } catch { case NonFatal(e) => Left(s"$n oracle failed: ${e.getMessage}") }
          })
        }.toMap
      } finally con.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Compare each op's Spark row counts with the oracle's. */
  def checkCounts(perOp: Map[Int, Seq[(String, Long)]],
                  oracle: Map[String, Either[String, Long]]): Seq[(Int, String)] =
    perOp.toSeq.sortBy(_._1).flatMap { case (i, rows) =>
      val bad = rows.flatMap { case (n, got) =>
        oracle.get(n) match {
          case Some(Right(want)) if want == got => None
          case Some(Right(want)) => Some(s"$n: spark $got rows, oracle $want")
          case Some(Left(err)) => Some(err)
          case None => Some(s"$n: not checked")
        }
      }
      if (bad.isEmpty) None else Some(i -> bad.mkString("; "))
    }
}

/** A `StepPlugin` that times the plugin it wraps. */
final class TimedPlugin(inner: StepPlugin, tr: Tracer) extends StepPlugin {
  def name: String = inner.name
  def run(ctx: StepContext): StepResult =
    tr.span("plugin." + inner.name.split('/').last, Depth.Plugin)(inner.run(ctx))
}

/** `examples/training_cut.yml` end to end: ten steps into a fresh
  * workdir, on the documents table written in seeded row order across
  * several part files. */
final class PipelineTrainingCut(spark: SparkSession, dataDir: String,
                                root: Path, seed: Long, checkout: Path)
    extends Workload {
  import PipelineTrainingCut._
  private val yml = checkout.resolve("examples/training_cut.yml")
  private val input = root.resolve("input")
  private val overrides: Map[String, Any] = Map("sf_dir" -> input.toString)
  private var inputBytes = 1L
  private var last: Option[PipelineRunner#RunResult] = None

  def label(i: Int): String = "training_cut"
  private def workdir(i: Int) = root.resolve(s"op$i")
  private def runner(i: Int, registry: Registry) =
    new PipelineRunner(registry, Map("workdir" -> workdir(i).toString),
      () => spark, assetRoots = Seq(checkout))

  /** The input, then one warm-up run on a small slice of it: the same
    * code paths, so the timed runs start with classes loaded and code
    * compiled, at a fraction of a full run's cost. */
  def setup(): Unit = {
    val docs = Plan.permuted(spark.read.parquet(s"$dataDir/documents.parquet"),
      seed, "doc_id", PartFiles)
    docs.write.parquet(input.resolve("documents.parquet").toString)
    inputBytes = Workload.treeBytes(input)
    val warm = root.resolve("warmup-input")
    spark.read.parquet(input.resolve("documents.parquet").toString)
      .limit(WarmupDocs).write.parquet(warm.resolve("documents.parquet").toString)
    runner(-1, DefaultRegistry()).runFile(yml, Map("sf_dir" -> warm.toString))
    Workload.deleteTree(workdir(-1))
  }

  def op(i: Int, tr: Option[Tracer]): Unit = last = Some(tr match {
    case None => runner(i, DefaultRegistry()).runFile(yml, overrides)
    case Some(t) =>
      val defaults = DefaultRegistry()
      val registry = new Registry(Plugins.map(n => new TimedPlugin(defaults.resolve(n), t)))
      val p = t.span("spec.load", Depth.Top)(Yaml.loadPipeline(yml))
      t.span("runner", Depth.Top)(runner(i, registry).runPipeline(p, overrides))
  })

  def afterOp(i: Int): (Option[String], Map[String, Double]) = {
    val dir = workdir(i)
    try {
      val res = last.getOrElse(sys.error("op produced no result"))
      last = None
      val disk = Workload.treeBytes(dir).toDouble / inputBytes
      val flow = rowFlow(res.results)
      val t0 = System.nanoTime()
      val rerun = runner(i, DefaultRegistry()).runFile(yml, overrides)
      val rerunMs = (System.nanoTime() - t0) / 1e6
      val skipped = rerun.results.count(_.skipped)
      val ran = res.results.count(r => !r.skipped)
      val problems = Seq(
        Option.when(flow != ExpectedFlow)(s"row flow $flow, expected $ExpectedFlow"),
        Option.when(skipped != Steps)(s"re-run skipped $skipped of $Steps steps"),
        Option.when(ran != Steps)(s"op ran $ran of $Steps steps")).flatten
      (Option.when(problems.nonEmpty)(problems.mkString("; ")),
        Map("runner.steps_ran" -> ran.toDouble,
          "runner.steps_skipped" -> skipped.toDouble,
          "runner.rerun_ms" -> rerunMs,
          "sink.disk_bytes_per_input_byte" -> disk))
    } finally Workload.deleteTree(dir)
  }
}

object PipelineTrainingCut {
  val PartFiles = 7
  val WarmupDocs = 500
  val Steps = 10
  val Plugins = Seq("text_scrub", "text_dedup", "sql_transform",
    "text_decontaminate", "text_resample", "text_pack", "corpus_shard",
    "shard_manifest")
  /** (step, result field) pairs whose values make the row flow. */
  private val FlowFields = Seq(0 -> "n_docs", 1 -> "n_kept", 3 -> "n_kept",
    4 -> "n_out", 5 -> "n_packs", 6 -> "n_shards", 7 -> "n_shards",
    8 -> "n_shards", 9 -> "n_shards")
  /** Docs in → deduped → decontaminated → mixture rows → packs → shards
    * of epoch 0 and 1 → manifests of epoch 0 and 1. */
  val ExpectedFlow: Seq[Long] = Seq(5000, 4756, 4583, 649, 145, 4, 4, 4, 4)

  def rowFlow(rs: Seq[StepResult]): Seq[Long] = FlowFields.map { case (step, f) =>
    rs.lift(step).flatMap(_.fields.get(f)).map(_.toString.toLong).getOrElse(-1L)
  }
}

/** One non-stream query from `SparkEntry.queries`, fully materialized
  * through the `noop` sink. Every run measures the same stratified
  * sample of the battery, in rounds of one run of each query, in seeded
  * order: a sample drawn per seed made the op latency a property of
  * the draw (run-to-run spread 0.69 of the median at 10 s a run). */
final class QueryBattery(spark: SparkSession, dataDir: String, seed: Long)
    extends Workload {
  import QueryBattery._
  private val order: Seq[String] = Plan.shuffled(seed, sample)
  private var last: Option[DataFrame] = None
  private val rows = scala.collection.mutable.Map[Int, Seq[(String, Long)]]()

  def label(i: Int): String = order(i % order.size)
  override def round: Int = order.size

  /** A warm-up pass over the sample: every timed op is a query's second
    * or later run, so its latency does not depend on which queries
    * happened to run before it (first runs, timed, spread 0.28 of the
    * median across seeds). */
  def setup(): Unit =
    sample.foreach(n => Workload.materialize(SparkEntry.queries(n)(spark, dataDir)))

  def op(i: Int, tr: Option[Tracer]): Unit =
    last = Some(Workload.runQuery(SparkEntry.queries(label(i)), spark, dataDir, tr))

  def afterOp(i: Int): (Option[String], Map[String, Double]) = {
    val df = last.getOrElse(sys.error("op produced no result"))
    last = None
    rows(i) = Seq(label(i) -> df.count())
    (None, Map.empty)
  }

  override def verify(ops: Seq[Int]): Seq[(Int, String)] =
    Workload.checkCounts(rows.toMap,
      Workload.duckCounts(dataDir, ops.map(label).distinct))
}

object QueryBattery {
  val SampleSize = 8
  /** The first queries of one fixed stratified order of the non-stream
    * battery: each query group in proportion to its size. */
  lazy val sample: Seq[String] = Plan.stratifiedOrder(0L,
    SparkEntry.groups.map { g =>
      g.getClass.getSimpleName.stripSuffix("$") ->
        g.queries.keys.filterNot(_.startsWith("stream_")).toSeq
    }.filter(_._2.nonEmpty)).take(SampleSize)
}

/** One fresh drain generation of the 18 `stream_*` queries, requested
  * in seeded order and each materialized: the first request drains
  * the whole group, the other 17 read its committed sinks. */
final class StreamDrain(spark: SparkSession, dataDir: String, seed: Long)
    extends Workload {
  private val members = StreamingQueries.queries.keys.toSeq.sorted
  private var last: Seq[(String, DataFrame)] = Nil
  private val rows = scala.collection.mutable.Map[Int, Seq[(String, Long)]]()

  def label(i: Int): String = "stream_generation"
  private val order = Plan.shuffled(seed, members)

  /** Nothing: the op is the JVM's first drain generation, as a process
    * that requests the stream queries once (Verify, a pipeline) pays.
    * A second generation would run warm, so a run makes one op. */
  def setup(): Unit = ()
  override def maxOps: Int = 1

  def op(i: Int, tr: Option[Tracer]): Unit = last = order.map { n =>
    n -> Workload.runQuery(StreamingQueries.queries(n), spark, dataDir, tr)
  }

  def afterOp(i: Int): (Option[String], Map[String, Double]) = {
    rows(i) = last.map { case (n, df) => n -> df.count() }
    last = Nil
    (None, Map.empty)
  }

  override def verify(ops: Seq[Int]): Seq[(Int, String)] =
    Workload.checkCounts(rows.toMap, Workload.duckCounts(dataDir, members))
}
