package graft.runner.plugins

import java.nio.file.Paths

import graft.runner._

/** `sql_transform` — run a SQL statement over registered inputs of any
  * [[graft.sources.Formats]] format (parquet/orc/csv/tsv/jsonl/text,
  * `.gz` transparent, extension-routed), write the result in the
  * format the output extension names (`.csv` keeps the reference's
  * single-file CSV contract; bare directories default to parquet).
  *
  * Not present in the reference (its transforms are fixed-function
  * plugins); this is the engine-native generalization that lets a YAML
  * pipeline express ANY relational step — the DSL surface over the same
  * Catalyst planner the library uses. Args:
  *
  * {{{
  * plugin: sql_transform
  * args:
  *   tables:            # name -> path, registered as temp views
  *     events: "{basedir}/events.parquet"
  *   query: "SELECT user_id, CAST(ts AS DATE) AS day, ... FROM events GROUP BY 1, 2"
  *   output_path: "{stage}/daily.parquet"
  * }}}
  *
  * Interpolation applies to the query text like any arg, so `{vars}`
  * and `{item}` parameterize the SQL (the DSL's fan-out composes:
  * `foreach` + a `{item}`-predicate = partitioned backfill).
  */
object SqlTransformPlugin extends StepPlugin {
  val name = "sql_transform"

  def run(ctx: StepContext): StepResult = {
    val spark = ctx.spark
    val tables = ctx.argOpt("tables") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v.toString }
      case _ => Map.empty[String, String]
    }
    // Temp views live in the SESSION-global namespace: concurrent
    // invocations of this step (foreach backfill items, parallel sibling
    // pipelines) registering the same view name with different paths
    // would race — one invocation silently reading another's table.
    // Each invocation therefore runs in its OWN session (newSession
    // shares the SparkContext and cached data but has an isolated temp
    // catalog), so views keep their declared names — no query rewriting,
    // which could never distinguish an identifier from a same-spelled
    // string literal or column name.
    val session = spark.newSession()
    tables.foreach { case (tname, path) =>
      // extension-routed multi-format read (csv/tsv/jsonl/orc/text/
      // parquet, .gz transparent); bare dataset dirs default to parquet
      val fmt = graft.sources.Formats.infer(path).orElse(Some("parquet"))
      graft.sources.Formats.read(session, path, format = fmt)
        .createOrReplaceTempView(tname)
    }
    val result = session.sql(ctx.argStr("query"))
    val out = ctx.argStr("output_path")
    // write side mirrors the read routing, or a chained step writing
    // .jsonl/.tsv/.orc would emit parquet bytes that the NEXT step's
    // extension-routed read misparses; .csv keeps the reference's
    // single-file contract (header'd, one part)
    if (out.endsWith(".csv")) Ledger.commitSingleFile(Paths.get(out))(
      result.coalesce(1).write.option("header", "true").csv(_))
    else graft.sources.Formats.write(result, out,
      format = graft.sources.Formats.infer(out).orElse(Some("parquet")))
    StepResult(Map("output_path" -> out, "n_tables" -> tables.size))
  }
}
