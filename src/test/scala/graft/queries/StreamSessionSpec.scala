package graft.queries

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.SparkSpecBase
import graft.streaming.{NioLocalFileSystem, StreamOps}

/** The stream sub-session writes checkpoints, state and sinks without
  * starting a process, its settings stay inside it, and a drain it runs
  * still restarts exactly once from its checkpoint. */
class StreamSessionSpec extends SparkSpecBase {

  private def tmp(): JPath = Files.createTempDirectory("graft_stream_session")

  test("the sub-session resolves the process-free checkpoint manager and " +
    "file system; the caller's session resolves neither") {
    val dir = new Path(tmp().toUri)
    val sub = StreamingQueries.streamSession(spark).sessionState.newHadoopConf()
    assert(CheckpointFileManager.create(dir, sub)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(dir.getFileSystem(sub).isInstanceOf[NioLocalFileSystem])

    val outer = spark.sessionState.newHadoopConf()
    assert(!CheckpointFileManager.create(dir, outer)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(!dir.getFileSystem(outer).isInstanceOf[NioLocalFileSystem])
  }

  test("an AvailableNow parquet sink re-run over its checkpoint with one " +
    "more staged file emits every row once and keeps its .crc sidecars") {
    import spark.implicits._
    val root = tmp()
    val stage = root.resolve("in")
    Files.createDirectories(stage)
    def stageRows(batch: Int, ids: Range): Unit = {
      val staging = root.resolve(s"staging_$batch").toString
      ids.map(i => (i.toLong, s"row$i")).toDF("id", "s")
        .coalesce(1).write.parquet(staging)
      Files.list(java.nio.file.Paths.get(staging)).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, stage.resolve(s"b${batch}_${f.getFileName}")))
    }
    val ss = StreamingQueries.streamSession(spark)
    val schema = Seq((0L, "")).toDF("id", "s").schema
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def drain(): Unit = StreamOps.toParquetSink(
      StreamOps.fileStream(ss, stage.toString, schema), out, ckpt)

    stageRows(1, 0 until 50)
    drain()
    stageRows(2, 50 until 80)
    drain()
    val ids = spark.read.parquet(out).as[(Long, String)].collect().map(_._1)
    assert(ids.length == 80, "every row exactly once")
    assert(ids.toSet == (0L until 80L).toSet)

    def crcs(dir: String): Seq[String] = {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".crc")).toList
      finally walk.close()
    }
    assert(crcs(ckpt).exists(_.startsWith(".1")),
      s"checkpoint logs keep their sidecars: ${crcs(ckpt)}")
    assert(crcs(out).exists(_.endsWith(".parquet.crc")),
      s"sink files keep their sidecars: ${crcs(out)}")
  }

  test("a scoped session drains only its scoped members") {
    // a session of its own, so the scope does not reach other specs
    val scopedSpark = spark.newSession()
    StreamingQueries.scopeDrains(scopedSpark,
      Set("stream_daily_agg", "stream_sliding_sum"))
    val d0 = StreamingQueries.drainCount
    assert(StreamingQueries.queries("stream_daily_agg")(scopedSpark, sf).collect().nonEmpty)
    assert(StreamingQueries.drainCount == d0 + 1)
    // the scoped sibling was drained with it
    StreamingQueries.queries("stream_sliding_sum")(scopedSpark, sf).collect()
    assert(StreamingQueries.drainCount == d0 + 1)
    // a member outside the scope was not, so asking for it drains again
    StreamingQueries.queries("stream_scd2")(scopedSpark, sf).collect()
    assert(StreamingQueries.drainCount == d0 + 2)
  }
}
