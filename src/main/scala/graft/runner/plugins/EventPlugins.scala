package graft.runner.plugins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.operators.{CountMin, Funnel, Histogram, Retention, Scd2,
  TextStats}
import graft.runner._

/** Event-log analytics as runner steps — the downstream query layer
  * over the event-shaped staging tables the reference's pipelines land
  * (see [[graft.operators.Funnel]] for the operator contracts).
  * Outputs and counters follow the rule in the `TextPlugins` header:
  * one writer, [[graft.runner.Counted.write]].
  */

/** Default `ts` expressions for event steps, chosen from the PHYSICAL
  * type the lake wrote — ns-precision BIGINT (the legacy convention),
  * naive `timestamp[us]` (Spark reads TIMESTAMP_NTZ; cast is
  * deterministic under the library's pinned UTC session timezone), or
  * an already-zoned TIMESTAMP. An explicit `ts_expr` arg always wins.
  */
private[plugins] object EventTs {
  /** SQL expression yielding epoch microseconds. */
  def microsExpr(df: DataFrame): String =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => "ts div 1000"
      case Some(TimestampNTZType) => "unix_micros(cast(ts as timestamp))"
      case _                      => "unix_micros(ts)"
    }

  /** SQL expression yielding a session-zoned TIMESTAMP. */
  def timestampExpr(df: DataFrame): String =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => "timestamp_micros(ts div 1000)"
      case Some(TimestampNTZType) => "cast(ts as timestamp)"
      case _                      => "ts"
    }
}

/** `event_funnel` — ordered conversion funnel ([[Funnel.steps]]).
  *
  * Args: `input` (event parquet), `output_path`, `stages` (ordered
  * list, required). Optional `user_col` (user_id), `kind_col`
  * (event_type), `ts_expr` (SQL expression yielding microseconds;
  * default adapts to the physical `ts` type — see [[EventTs]]).
  */
object EventFunnelPlugin extends StepPlugin {
  val name = "event_funnel"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val stages = ctx.argList("stages").filter(_.nonEmpty)
      .getOrElse(sys.error("event_funnel: 'stages' list is required"))
    val userCol = ctx.argStr("user_col", "user_id")
    val kindCol = ctx.argStr("kind_col", "event_type")
    val input = ctx.spark.read.parquet(ctx.argStr("input"))
    val tsExpr = ctx.argStrOpt("ts_expr")
      .getOrElse(EventTs.microsExpr(input))
    Counted.output(Funnel.steps(input,
        col(userCol), col(kindCol), expr(tsExpr), stages),
      out, "n_entered" -> Counted.rows,
      "n_converted" -> sum(when(col("steps") === stages.size, 1)))
  }
}

/** `event_retention` — cohort retention grid ([[Retention.cohorts]]).
  *
  * Args: `input`, `output_path`. Optional `user_col` (user_id),
  * `ts_expr` (SQL expression yielding a timestamp; default adapts to
  * the physical `ts` type — see [[EventTs]]).
  */
object EventRetentionPlugin extends StepPlugin {
  val name = "event_retention"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val userCol = ctx.argStr("user_col", "user_id")
    val input = ctx.spark.read.parquet(ctx.argStr("input"))
    val tsExpr = ctx.argStrOpt("ts_expr")
      .getOrElse(EventTs.timestampExpr(input))
    Counted.output(Retention.cohorts(input, col(userCol), expr(tsExpr)),
      out, "n_cells" -> Counted.rows) ++ Map("n_cohorts" ->
      ctx.spark.read.parquet(out).select("cohort_day").distinct().count())
  }
}

/** `event_scd2` — SCD type-2 history build ([[Scd2.build]]).
  *
  * Args: `input`, `output_path`, `attr_col` (required). Optional
  * `user_col` (user_id), `ts_expr` (microseconds; default adapts to
  * the physical `ts` type — see [[EventTs]]), `tiebreak_col`
  * (event_id).
  */
object EventScd2Plugin extends StepPlugin {
  val name = "event_scd2"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val attrCol = ctx.argStr("attr_col")
    val userCol = ctx.argStr("user_col", "user_id")
    val input = ctx.spark.read.parquet(ctx.argStr("input"))
    val tsExpr = ctx.argStrOpt("ts_expr")
      .getOrElse(EventTs.microsExpr(input))
    val tb = ctx.argStr("tiebreak_col", "event_id")
    Counted.output(Scd2.build(input,
        col(userCol), col(attrCol), expr(tsExpr), col(tb)),
      out, "n_intervals" -> Counted.rows,
      "n_current" -> sum(when(col("is_current") === 1, 1)))
  }
}

/** `sketch_count_min` — build/merge a count-min frequency sketch and
  * optionally point-query it ([[graft.operators.CountMin]]).
  *
  * Args: `input`, `output_path` (the merged d×width counter grid — the
  * persistable rollup artifact). Token stream is either `token_col`
  * (pre-tokenized) or `text_col` (whitespace-tokenized here). Optional
  * `group_col` + `partials_path`: persist the PER-GROUP counter grids
  * too (the incremental form — a daily job appends its group's partial
  * and any consumer re-merges), with the merged grid then built from
  * the persisted partials, proving the round trip. `depth` (4),
  * `width` (256); `queries_input` + `estimates_path` to also write
  * point estimates for the distinct tokens of a query table
  * (`query_token_col` or `query_text_col`).
  */
object SketchCountMinPlugin extends StepPlugin {
  val name = "sketch_count_min"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val d = ctx.argInt("depth", 4)
    val w = ctx.argInt("width", 256)
    val raw = ctx.spark.read.parquet(ctx.argStr("input"))
    val grp = ctx.argStrOpt("group_col").map(col)
      .getOrElse(lit("all"))
    val toks = (ctx.argStrOpt("token_col"), ctx.argStrOpt("text_col")) match {
      case (Some(t), _) => raw.select(grp.as("grp"), col(t).as("w"))
      case (None, Some(t)) => raw.select(grp.as("grp"),
        explode(TextStats.tokens(col(t))).as("w"))
      case _ => sys.error(
        "sketch_count_min: one of 'token_col' / 'text_col' is required")
    }
    val partials = CountMin.partials(toks, col("grp"), col("w"), d, w)
    // with partials_path the merged grid is built from the PERSISTED
    // per-group partials — the actual incremental-rollup round trip
    val mergeSrc = ctx.argStrOpt("partials_path").fold(partials) { p =>
      Counted.write(partials, p)
      ctx.spark.read.parquet(p)
    }
    val merged = Counted.output(CountMin.merge(mergeSrc), out,
      "n_counters" -> Counted.rows)
    ctx.argStrOpt("queries_input").fold(merged) { qp =>
      val ep = ctx.argStr("estimates_path")
      val qraw = ctx.spark.read.parquet(qp)
      val qtoks = (ctx.argStrOpt("query_token_col"),
          ctx.argStrOpt("query_text_col")) match {
        case (Some(t), _) => qraw.select(col(t).as("token"))
        case (None, Some(t)) => qraw.select(
          explode(TextStats.tokens(col(t))).as("token"))
        case _ => sys.error("sketch_count_min: queries_input needs one " +
          "of 'query_token_col' / 'query_text_col'")
      }
      val persisted = ctx.spark.read.parquet(out)
      merged ++ Map("estimates_path" -> ep) ++ Counted.write(
        CountMin.estimate(persisted, qtoks.distinct(), col("token"), d, w),
        ep, "n_estimated" -> Counted.rows)
    }
  }
}

/** `sketch_quantiles` — mergeable-quantile rollup
  * ([[graft.operators.Histogram.quantilesFromPartials]]): per-group
  * fixed-width histogram partials merge by summing bin counts, then
  * quantiles interpolate inside the target rank's bin. Completes the
  * mergeable-sketch step family (HLL distinct / count-min frequency /
  * THIS for quantiles) — same incremental contract as
  * [[SketchCountMinPlugin]]: a daily job appends its group's partial
  * and any consumer re-merges.
  *
  * Args: `input`, `output_path` (the quantile estimates), `value_col`;
  * `width` (bin width, default 25.0), `origin` (default 0.0),
  * `quantiles` (YAML list, default [0.25, 0.5, 0.9, 0.99]). Optional
  * `group_col` + `partials_path`: persist the per-group bin grids and
  * rebuild the merged estimate from the PERSISTED partials (the
  * round-trip proof, mirroring sketch_count_min).
  */
object SketchQuantilesPlugin extends StepPlugin {
  val name = "sketch_quantiles"

  def run(ctx: StepContext): StepResult = {
    val out = ctx.argStr("output_path")
    val valueCol = ctx.argStr("value_col")
    val width = ctx.argDouble("width", 25.0)
    val origin = ctx.argDouble("origin", 0.0)
    val qs = ctx.argList("quantiles") match {
      case Some(l) if l.nonEmpty => l.map(_.toDouble)
      case Some(_) => sys.error("sketch_quantiles: 'quantiles' is empty")
      case None => Seq(0.25, 0.5, 0.9, 0.99)
    }
    val raw = ctx.spark.read.parquet(ctx.argStr("input"))
    val grpKeys = ctx.argStrOpt("group_col").toSeq
    val partials = Histogram(raw, grpKeys, col(valueCol), width, origin)
      .select((grpKeys.map(col) :+ col("bin") :+ col("n")): _*)
    // with partials_path the estimate is built from the PERSISTED
    // per-group grids — the actual incremental-rollup round trip
    val mergeSrc = ctx.argStrOpt("partials_path").fold(partials) { p =>
      Counted.write(partials, p)
      ctx.spark.read.parquet(p)
    }
    Counted.output(
      Histogram.quantilesFromPartials(mergeSrc, width, origin, qs), out,
      "n_quantiles" -> Counted.rows)
  }
}
