package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload, run timed ops
  * one after another (closed loop, one client) until `--seconds` of op
  * time is measured, check every op's output, and write the run's
  * record as JSON to `--out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --root <scratch dir> --checkout <dir> --out <file>
  */
object Main {
  final case class OpRecord(i: Int, label: String, traced: Boolean,
                            wallMs: Double, startMs: Double,
                            error: Option[String],
                            trace: Option[OpTrace],
                            extra: Map[String, Double],
                            gcMs: Double, heapMb: Double, cachedBytes: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val root = Paths.get(opt("root")).toAbsolutePath
    val checkout = Paths.get(opt("checkout")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(cpus, root, trace)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val w: Workload = workload match {
      case "pipeline-training-cut" =>
        new PipelineTrainingCut(spark, dataDir, root.resolve("pipeline"), seed, checkout)
      case "query-battery" => new QueryBattery(spark, dataDir, seed)
      case "stream-drain" => new StreamDrain(spark, dataDir, seed)
      case other => sys.error(s"unknown workload: $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()
    def measured = ops.map(_.wallMs).sum / 1e3
    var i = 0
    while ((measured < seconds || i % w.round != 0) && i < w.maxOps) {
      val gc0 = gcMs()
      tracer.foreach(_.begin())
      val startMs = Clock.nowMs
      val t0 = System.nanoTime()
      val err = try { w.op(i, tracer); None } catch {
        case NonFatal(e) => Some(s"op threw ${e.getClass.getName}: ${e.getMessage}")
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val opTrace = tracer.map(_.end())
      val gc = gcMs() - gc0
      val (check, extra) =
        if (err.nonEmpty) (err, Map.empty[String, Double])
        else try w.afterOp(i) catch {
          case NonFatal(e) => (Some(s"check threw ${e.getMessage}"), Map.empty[String, Double])
        }
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val cached = spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum
      ops += OpRecord(i, w.label(i), trace, wallMs, startMs, check,
        opTrace, extra, gc, heap, cached)
      i += 1
    }
    val late = try w.verify(ops.filter(_.error.isEmpty).map(_.i).toSeq).toMap
    catch { case NonFatal(e) => ops.map(_.i -> s"verify threw ${e.getMessage}").toMap }
    val done = ops.map(o => o.copy(error = o.error.orElse(late.get(o.i)))).toSeq
    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1).toSeq
    spark.stop()

    val out = Paths.get(opt("out"))
    Files.writeString(out, Report.json(workload, seed, seconds, trace, cpus,
      setupS, done, conf))
  }

  def session(cpus: Int, root: Path, trace: Boolean): SparkSession = {
    // as RunPipeline.main builds it; the local and warehouse dirs only
    // keep the run's scratch files under its own root
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
    if (trace) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamProgressListener].getName)
    b.getOrCreate()
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
}
