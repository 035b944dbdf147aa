package graft.runner.plugins

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.runner._

/** The reference's `geo/` plugin namespace over the relational raster
  * model (SURVEY §1.3): rasters are long-form parquet tables
  * `(cell_id LONG, x INT, y INT, day DATE, value DOUBLE)`; polygon
  * selectors are parquet dimensions `(geoid, name, stusps, xmin, ymin,
  * xmax, ymax)` (bbox polygons — the containment test is a range
  * predicate; a true point-in-polygon ring test slots into the same
  * join condition).
  *
  * Arg names mirror the reference YAMLs so its pipelines port by
  * changing only paths.
  */
object GeoPluginUtil {
  /** Input raster under every arg name the reference YAMLs use:
    * `raster_path` (county_daily_aggregate_child.yml:25),
    * `input_raster` (geo_raster_value_mask,
    * prism-mi-corn-ppt-county.yml:43), `input_path`
    * (geo_raster_reproject, prism-mi-corn-ppt-county.yml:52), or
    * `input_dir` (stack form, stage-ts-ppt-day-state.yml:26). The
    * verbatim-execution spec (ReferenceExecutionSpec) pins all four. */
  def readRaster(ctx: StepContext): DataFrame =
    ctx.spark.read.parquet(ctx.argAnyStr(
      "raster_path", "input_raster", "input_path", "input_dir"))

  def outPath(ctx: StepContext): String =
    ctx.argAnyStr("output_path", "output_dir")

  /** A parquet dataset, or at a `.csv` path the reference's output
    * shape: one CSV file (county_ppt_{day}.csv —
    * pipelines/prism/county_daily_aggregate.yml:29); the step's result
    * names the path under `key`. */
  def writeTable(df: DataFrame, key: String, path: String): StepResult = {
    if (path.endsWith(".csv")) Ledger.commitSingleFile(Paths.get(path))(
      df.coalesce(1).write.option("header", "true").csv(_))
    else Counted.write(df, path)
    StepResult(Map(key -> path))
  }

  /** Polygon dimension: `selector_path` (stage-ts-ppt-day-state.yml:30)
    * or the county aggregates' `county_path`
    * (county_daily_aggregate_child.yml:26,
    * prism-mi-corn-ppt-county.yml:75). */
  def selector(ctx: StepContext): DataFrame =
    ctx.spark.read.parquet(ctx.argAnyStr("selector_path", "county_path"))

  /** Case-insensitive attribute filter: `key: STUSPS, value: MI`
    * (stage-ts-ppt-day-state.yml:31-32). */
  def attrFilter(dim: DataFrame, key: String, value: String): DataFrame = {
    val colName = dim.columns.find(_.equalsIgnoreCase(key)).getOrElse(
      throw new IllegalArgumentException(s"selector has no column $key"))
    dim.filter(col(colName) === value)
  }

  def bboxContains(px: Column, py: Column): Column =
    px >= col("xmin") && px <= col("xmax") &&
      py >= col("ymin") && py <= col("ymax")
}

/** P1 — `geo/geo_clip_raster_by_polygon.py`: keep cells inside the
  * selected polygons (spatial semi-join, broadcast dimension). */
object GeoClipPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_clip_raster_by_polygon"
  def run(ctx: StepContext): StepResult = {
    val raster = readRaster(ctx)
    val polys = attrFilter(selector(ctx), ctx.argStr("key"), ctx.argStr("value"))
      .select("xmin", "ymin", "xmax", "ymax")
    val clipped = Clip.semi(raster, polys,
      lit(true), bboxContains(raster("x"), raster("y")))
    Counted.output(clipped, outPath(ctx))
  }
}

/** P2 — `geo/geo_raster_value_mask.py`: include_values → 1.0 else 0.0
  * (prism-mi-corn-ppt-county.yml:41-49; corn=1, soy=5). */
object GeoValueMaskPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_raster_value_mask"
  def run(ctx: StepContext): StepResult = {
    val include = ctx.arg("include_values") match {
      case l: Seq[_] => l.map(_.toString.trim.toDouble)
      case s => s.toString.split(",").map(_.trim.toDouble).toSeq
    }
    val masked = ValueMask(readRaster(ctx), col("value"), include)
      .drop("value").withColumnRenamed("mask", "value")
    Counted.output(masked, outPath(ctx))
  }
}

/** A3 — `geo/geo_raster_reproject.py` with `resampling: average`:
  * mean-downsample by an integer factor onto the coarse grid
  * (prism-mi-corn-ppt-county.yml:50-60; the reference aligns to a
  * `template_glob` grid — relationally the affine bucket IS the
  * template-grid key, SURVEY §2.3 J3). */
object GeoReprojectPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_raster_reproject"
  def run(ctx: StepContext): StepResult = {
    val f = ctx.argInt("factor", 2)
    val df = readRaster(ctx)
    val hasDay = df.columns.contains("day")
    val keys = (if (hasDay) Seq(col("day")) else Nil) ++
      Seq((col("x") / f).cast("int").as("x"), (col("y") / f).cast("int").as("y"))
    val coarse = df.groupBy(keys: _*)
      .agg(graft.functions.Exact.davg(col("value")).as("value"))
      .withColumn("cell_id",
        col("x").cast("long") * 1000000L + col("y").cast("long"))
    Counted.output(coarse, outPath(ctx))
  }
}

/** J1 — `geo/geo_raster_multiply.py`: cellwise product with an aligned
  * (small, broadcast) weight raster (prism-mi-corn-ppt-county.yml:61-70). */
object GeoMultiplyPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_raster_multiply"
  def run(ctx: StepContext): StepResult = {
    val stack = readRaster(ctx)
    val weights = ctx.spark.read.parquet(ctx.argStr("weight_raster"))
      .select(col("x"), col("y"), col("value").as("__w"))
    val product = MultiplyJoin(stack, weights, Seq("x", "y"),
      col("value"), col("__w"))
      .drop("value", "__w").withColumnRenamed("weighted", "value")
    Counted.output(product, outPath(ctx))
  }
}

/** W1 — `geo/geo_raster_running_window.py`: per-cell trailing rolling
  * aggregate over the day axis; input spans all years, `target_year`
  * trims output (stage-ts-ppt-day-mi-rollsum-14d.yml:23-33). */
object GeoRunningWindowPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_raster_running_window"
  def run(ctx: StepContext): StepResult = {
    val window = ctx.argInt("window", ctx.argInt("windows", 7))
    val metric = ctx.argStr("metric", "sum")
    require(metric == "sum", s"unsupported running-window metric: $metric")
    val df = readRaster(ctx)
    val rolled = Rolling.trailingDaySums(
      df.withColumn("__v_dec",
        col("value").cast(graft.functions.Exact.DecimalT)),
      Seq("cell_id"), col("day"), col("__v_dec"), Seq(window))
      .drop("__v_dec", "value")
      .withColumnRenamed(s"rollsum_${window}d", "value")
    val trimmed = ctx.argIntOpt("target_year")
      .map(Rolling.trimYear(rolled, col("day"), _)).getOrElse(rolled)
    Counted.output(trimmed, outPath(ctx)) ++ Map("window" -> window)
  }
}

/** A4 — `geo/geo_raster_spi.py` `method: zscore`: per-(cell, day-of-year)
  * climatology z-score across years
  * (stage-ts-ppt-day-mi-spi-3d.yml:20-30). */
object GeoSpiPlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_raster_spi"
  def run(ctx: StepContext): StepResult = {
    val method = ctx.argStr("method", "zscore")
    require(method == "zscore", s"unsupported SPI method: $method")
    val df = readRaster(ctx).withColumn("doy", dayofyear(col("day")))
    val z = ZScore(df, Seq("cell_id", "doy"), col("value"))
      .drop("value", "doy").withColumnRenamed("zscore", "value")
    Counted.output(z, outPath(ctx))
  }
}

/** A1 — `geo/geo_county_raster_aggregate.py`: zonal stats per county for
  * one day's raster; `aggregations` list, `{value_prefix}_{stat}` CSV
  * columns keyed GEOID/NAME/day
  * (county_daily_aggregate.yml:24-36, output :29). */
object GeoCountyAggregatePlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_county_raster_aggregate"
  def run(ctx: StepContext): StepResult = {
    val prefix = ctx.argStr("value_prefix", "v")
    val raster = readRaster(ctx)
    val counties = selector(ctx)
      .select(col("geoid"), col("name"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
    val assigned = raster.join(broadcast(counties),
      bboxContains(raster("x"), raster("y")))
    val keys = if (raster.columns.contains("day"))
      Seq("geoid", "name", "day") else Seq("geoid", "name")
    val stats = ZonalStats(assigned, keys, col("value"), prefix)
    writeTable(stats, "output_path", outPath(ctx))
  }
}

/** A2 — `geo/geo_county_weighted_raster_aggregate.py`: weighted county
  * mean Σwv/Σw over a stack of day rasters; weights from `weight_raster`
  * (crop fraction); day key parsed from filename in the reference, a
  * `day` column here (prism-mi-corn-ppt-county.yml:71-85). */
object GeoCountyWeightedAggregatePlugin extends StepPlugin {
  import GeoPluginUtil._
  val name = "geo/geo_county_weighted_raster_aggregate"
  def run(ctx: StepContext): StepResult = {
    val prefix = ctx.argStr("value_prefix", "v")
    val stack = readRaster(ctx)
    val weights = ctx.spark.read.parquet(ctx.argStr("weight_raster"))
      .select(col("x"), col("y"), col("value").as("__w"))
    val counties = selector(ctx)
      .select(col("geoid"), col("name"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
    val weighted = MultiplyJoin(stack, weights, Seq("x", "y"),
      col("value"), col("__w"))
    val assigned = weighted.join(broadcast(counties),
      bboxContains(weighted("x"), weighted("y")))
    val out = WeightedZonal(assigned, Seq("geoid", "name", "day"),
      col("value"), col("__w"), s"${prefix}_wavg")
      .drop(s"${prefix}_wavg_num", s"${prefix}_wavg_den")
    writeTable(out, "output_file",
      ctx.argStrOpt("output_file").getOrElse(outPath(ctx)))
  }
}
