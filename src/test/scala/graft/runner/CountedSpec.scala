package graft.runner

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, sum, when}

import graft.SparkSpecBase
import graft.runner.plugins.DefaultRegistry

/** [[Counted]]: metrics observed on the write equal a recount of what
  * was written, footer row counts equal a scan, an empty input gives
  * zeros, and no step waits forever for its metrics. */
class CountedSpec extends SparkSpecBase {

  test("observed count, sum and filtered count equal a recount of the output") {
    val out = Files.createTempDirectory("graft_counted").resolve("o").toString
    val df = spark.range(0, 1000).withColumn("v", col("id") % 7)
    val c = Counted.write(df.filter(col("v") =!= 3), out,
      "rows" -> Counted.rows, "s" -> sum("v"),
      "big" -> sum(when(col("v") > 4, 1)))
    val back = spark.read.parquet(out)
    assert(c("rows") == back.count())
    assert(c("s") == back.agg(sum("v")).head().getLong(0))
    assert(c("big") == back.filter(col("v") > 4).count())
  }

  test("an empty write reports zero rows and a null sum as zero") {
    val out = Files.createTempDirectory("graft_counted").resolve("o").toString
    val c = Counted.write(spark.range(0, 10).toDF().filter(col("id") < 0), out,
      "rows" -> Counted.rows, "s" -> sum("id"))
    assert(c == Map("rows" -> 0L, "s" -> 0L))
  }

  test("a write of a join whose other side is empty reports zero rows") {
    val out = Files.createTempDirectory("graft_counted").resolve("o").toString
    val right = spark.range(0, 100).toDF().filter(col("id") < 0)
    val c = Counted.write(spark.range(0, 100).toDF().join(right, "id"), out,
      "rows" -> Counted.rows)
    assert(c("rows") == 0L)
  }

  test("parquetRows equals the scanned rows of a file, a partitioned " +
    "tree and a glob, and skips hidden entries") {
    val dir = Files.createTempDirectory("graft_counted")
    val tree = dir.resolve("tree").toString
    spark.range(0, 1000).withColumn("p", col("id") % 3).repartition(4)
      .write.partitionBy("p").parquet(tree)
    // a leftover the file index skips: a hidden directory with data
    spark.range(0, 5).write.parquet(s"$tree/_temporary/0")
    assert(Counted.parquetRows(spark, tree) == 1000L)
    assert(Counted.parquetRows(spark, tree) == spark.read.parquet(tree).count())
    assert(Counted.parquetRows(spark, s"$tree/p=1") == 333L)
    assert(Counted.parquetRows(spark, s"$tree/p=*") == 1000L)
    assert(Counted.parquetRows(spark, s"$tree/*") == 1000L)
    val empty = dir.resolve("empty").toString
    spark.range(0, 10).filter(col("id") < 0).write.parquet(empty)
    assert(Counted.parquetRows(spark, empty) == 0L)
  }

  test("text_scrub's redaction totals, observed on its write, equal the " +
    "per-doc counts summed over its input") {
    val work = Files.createTempDirectory("graft_counted_scrub")
    val in = work.resolve("docs.parquet").toString
    spark.createDataFrame(Seq(
      (1L, "mail a.b+c@x-y.co or ops@ex.org from 10.1.2.3 call 555-0199"),
      (2L, "no pii here just words"),
      (3L, "ping 192.168.0.1 and 10.0.0.2, or write to me@ex.org"),
      (4L, "call 555-0100 or 555-0101")))
      .toDF("doc_id", "text").write.parquet(in)
    val yml = work.resolve("scrub.yml")
    Files.writeString(yml,
      s"""steps:
         |  - name: scrub
         |    plugin: text_scrub
         |    args:
         |      input: "$in"
         |      output_path: "${work.resolve("out.parquet")}"
         |""".stripMargin)
    val res = new PipelineRunner(DefaultRegistry(),
      Map("workdir" -> work.toString), () => spark).runFile(yml)
    val want = graft.operators.Scrub.scrub(spark.read.parquet(in),
      col("doc_id"), col("text"))
      .agg(sum("n_emails"), sum("n_ips"), sum("n_phones")).head()
    val got = res.results.head.fields
    assert(got("n_docs") == 4L)
    assert(Seq(got("n_emails"), got("n_ips"), got("n_phones")) ==
      Seq(want.getLong(0), want.getLong(1), want.getLong(2)))
    assert(want.getLong(0) == 3L && want.getLong(1) == 3L)
  }

  test("training_cut steps on an empty corpus report zero counters and " +
    "never block on their metrics") {
    val work = Files.createTempDirectory("graft_counted_empty")
    val input = work.resolve("input")
    spark.read.parquet(s"$sf/documents.parquet").limit(0)
      .write.parquet(input.resolve("documents.parquet").toString)
    // the chain up to the first shard write: a manifest needs at least
    // one committed shard to read a schema from
    val yml = Files.readString(Paths.get("examples/training_cut.yml"))
    val cut = yml.indexOf("  - name: \"{sys.step.NN}_shard_epoch1\"")
    assert(cut > 0)
    val path = work.resolve("cut.yml")
    Files.writeString(path, yml.substring(0, cut))
    val runner = new PipelineRunner(DefaultRegistry(),
      Map("workdir" -> work.toString), () => spark,
      assetRoots = Seq(Paths.get("examples").toAbsolutePath))
    val res = Await.result(Future(
      runner.runFile(path, Map("sf_dir" -> input.toString))), 5.minutes)
    assert(res.results.size == 7)
    val counters = res.results.flatMap(_.fields.collect {
      case (k, v: Long) => k -> v
    })
    assert(counters.nonEmpty)
    counters.foreach { case (k, v) => assert(v == 0L, s"$k = $v") }
  }
}
