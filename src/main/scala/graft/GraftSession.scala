package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every graft main (and the spec base) starts
  * from, so the plan `Verify` checks is the plan `Bench` times. Callers
  * append only the settings that really differ, then `getOrCreate()`.
  *
  *  - `local[SPARK_GRAFT_CPUS]`, default: every available processor;
  *  - `SPARK_GRAFT_SHUFFLE` shuffle partitions, default: the cpu count
  *    (partitions must track DATA at large scale — BASELINE.md rule);
  *  - UTC session time zone; `nanosAsLong` so ns parquet timestamps
  *    read as the oracle reads them; no UI.
  *
  * AQE and `autoBroadcastJoinThreshold` stay at Spark's defaults. */
object GraftSession {
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", n.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }
}
