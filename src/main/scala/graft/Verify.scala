package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder("graft-verify")
      .config("spark.cleaner.periodicGC.interval", "120s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // builder-side iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the
    // dump to named queries (the driver never sets it — full battery)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds the 1-partition
      // constraint INTO the final stage, so a query whose last stage
      // carries real compute (a shuffled join, an aggregate) executes
      // single-threaded — measured at sf10 as a 20+ min single task.
      // repartition keeps upstream parallelism and serializes only the
      // single-file write itself (driver-compare keeps one part file).
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape ([[MinJson]]): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${MinJson.str(k)}: ${MinJson.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
