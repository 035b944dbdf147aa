package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus the
  * LLM-data-pipeline extensions) to a DataFrame program over the driver test
  * tables; `oracleSql` holds the DuckDB-equivalent SQL the driver diffs
  * against. Column names are aligned on both sides (the driver sorts columns
  * by name before hashing). Query groups live in [[graft.queries]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1Agg(spark, "/root/testdata/sf0.001")

  private[graft] def groups = Seq[QueryGroup](
    CoreQueries, RelationalQueries, AggregateQueries,
    TextQueries, CorpusQueries, VectorQueries, AdvancedQueries,
    EventQueries, StreamingQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * ORACLE TYPE DISCIPLINE (BASELINE.md "DuckDB oracle type
    * discipline"): DuckDB types an uncast integer SUM as HUGEINT
    * (int128), which has no int64/Arrow mapping — a type-sensitive
    * driver hasher then mismatches every row while value compares stay
    * green. CAST every aggregate/computed column to the Spark result's
    * type (SUM of ints → BIGINT). Enforced by OracleTypeSpec (all
    * oracles, every `sbt test`) and tools/preflight.py. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap

  /** `SPARK_GRAFT_ONLY=q1,q2`: the queries a Bench or Verify run keeps,
    * with `spark`'s stream drains scoped to them (unset: all). */
  private[graft] def onlyFromEnv(spark: SparkSession): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach(StreamingQueries.scopeDrains(spark, _))
    only
  }
}

/** A named bundle of queries plus their DuckDB oracles. */
trait QueryGroup {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
