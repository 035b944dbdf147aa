package graft.runner

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Using

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one parquet writer of a plugin's output. [[write]] overwrites
  * `path`: with no metrics it is a plain write with no `Observation`;
  * with metrics it observes them on the written rows, so a `StepResult`
  * counter costs no Spark job of its own, as a re-read plus `count()`
  * or a second pass over the input would.
  *
  * [[write]] attaches aggregate columns to the written frame with
  * `Dataset.observe`. The observed node is the top of the written
  * plan, so it runs in the write job's result stage, whose task
  * updates Spark applies once per partition: the values are exact even
  * when a stage re-runs. (An observation below an exchange is not: a
  * re-run map stage adds its rows again.) Only plain aggregates fit:
  * `count(1)`, `sum(x)` and `sum(when(cond, 1))`. Distinct counts
  * cannot be observed and keep their own job. An empty input reports
  * `count = 0` and `sum = null`; null reads as 0, like
  * `coalesce(sum(...), 0)`.
  *
  * [[parquetRows]] counts the rows of parquet files already written,
  * such as a step's input, from their footers on the driver.
  */
object Counted {

  /** `count(1)`: the rows that passed the observed point. */
  def rows: Column = count(lit(1))

  /** How long to wait for the metrics once the write has returned.
    * Spark completes an observation from a query listener, a little
    * after the action itself; the bound turns a lost listener event into
    * an error instead of a hang. */
  private val Wait = 5.minutes

  /** Writes `df` as parquet at `path` (overwrite) with `metrics`
    * observed on the written rows, and returns their values; with no
    * metrics, a plain write that returns an empty map. */
  def write(df: DataFrame, path: String,
            metrics: (String, Column)*): Map[String, Long] = {
    if (metrics.isEmpty) {
      df.write.mode("overwrite").parquet(path)
      Map.empty
    } else {
      val obs = Observation()
      val cols = metrics.map { case (n, c) => c.as(n) }
      df.observe(obs, cols.head, cols.tail: _*)
        .write.mode("overwrite").parquet(path)
      val row = Await.result(obs.future, Wait)
      // the observed node tops the written plan, so no rewrite prunes it
      if (row.schema == null)
        throw new IllegalStateException(s"no metrics observed writing $path")
      metrics.map { case (n, _) =>
        val v = row.getAs[Any](n)
        n -> (if (v == null) 0L else v.asInstanceOf[Number].longValue)
      }.toMap
    }
  }

  /** [[write]] as a step's result: `output_path` and the counters. */
  def output(df: DataFrame, path: String,
             metrics: (String, Column)*): StepResult =
    StepResult(Map("output_path" -> path) ++ write(df, path, metrics: _*))

  /** The rows `spark.read.parquet(path)` scans, summed from the parquet
    * footers of its data files: exact, and no Spark job. `path` may be
    * a file, a directory tree (a partitioned layout too) or a glob;
    * entries named `_*` or `.*` are skipped, as Spark's file index
    * skips them. */
  def parquetRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def rowsUnder(s: FileStatus): Long =
      if (s.isDirectory)
        fs.listStatus(s.getPath).iterator.filter(visible).map(rowsUnder).sum
      else Using.resource(ParquetFileReader.open(
        HadoopInputFile.fromStatus(s, conf)))(_.getRecordCount)
    Option(fs.globStatus(root))
      .fold(0L)(_.iterator.filter(visible).map(rowsUnder).sum)
  }
}
