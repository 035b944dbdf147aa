package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryGroup, Tables}
import graft.functions.Exact
import graft.operators._

/** Aggregation + window surface (SURVEY §2.4/2.5): zonal stats, weighted
  * zonal, regrid, z-score climatology, rolling windows, profiling and
  * catalog merge — on the driver test tables per FIXTURES.md §A.
  */
object AggregateQueries extends QueryGroup {

  /** A1: zonal percentile stats per (user, day) — the reference's
    * min,p5,q1,med,avg,q3,p95,max set. */
  def a1ZonalStats(spark: SparkSession, dir: String): DataFrame =
    ZonalStats(
      Tables.events(spark, dir).withColumn("day", to_date(col("ts"))),
      Seq("user_id", "day"), col("value"), "val")

  /** A2: weighted mean Σwv/Σw per (supplier, ship day). */
  def a2Weighted(spark: SparkSession, dir: String): DataFrame =
    WeightedZonal(
      Tables.lineitem(spark, dir)
        .withColumn("ship_day", to_date(col("l_shipdate"))),
      Seq("l_suppkey", "ship_day"),
      col("l_extendedprice"), lit(1.0) - col("l_discount"), "wavg")

  /** A3: mean-downsample via computed affine bucket. */
  def a3Regrid(spark: SparkSession, dir: String): DataFrame =
    Regrid.meanByBucket(Tables.events(spark, dir),
      Regrid.affineBucket(col("user_id"), 0.0, 10.0), col("value"))

  /** A4: climatological z-score per (user, day-of-year). */
  def a4Zscore(spark: SparkSession, dir: String): DataFrame =
    ZScore(
      Tables.events(spark, dir).withColumn("doy", dayofyear(col("ts"))),
      Seq("user_id", "doy"), col("value"))
      .select(col("event_id"), col("user_id"), col("doy"), col("zscore"))

  /** W1: trailing 3/7/14/30-day rolling sums over the daily series. */
  def w1Rollsum(spark: SparkSession, dir: String): DataFrame = {
    // Spread.up by user: one repartition serves the daily aggregate
    // AND the rolling windows (both keyed by user) — and parallelizes
    // the kernel past the one-split events scan (guide §2.4/§2.5)
    val daily = Spread.up(Tables.events(spark, dir), col("user_id"))
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(Exact.DecimalT)).as("v_dec"))
    Rolling.trailingDaySums(daily, Seq("user_id"), col("day"),
      col("v_dec"), Seq(3, 7, 14, 30))
      .select(col("user_id"), col("day"),
        col("v_dec").cast("double").as("v"),
        col("rollsum_3d"), col("rollsum_7d"),
        col("rollsum_14d"), col("rollsum_30d"))
  }

  /** W1's order-statistic sibling: 7-day trailing MEDIAN of the daily
    * series — the robust-smoothing window a sum can't provide. Same
    * single shuffle + sort as the rollsum family (one more window
    * aggregate in the same pass); the exact percentile's equal-straddle
    * shortcut is reproduced in the oracle via
    * [[Exact.sql.sparkPercentile]]. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    // Spread.up by user — same shared-exchange rationale as w1_rollsum
    val daily = Spread.up(Tables.events(spark, dir), col("user_id"))
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(Exact.DecimalT)).cast("double").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(datediff(col("day"), lit("1970-01-01")))
      .rangeBetween(-6, 0)
    daily.withColumn("roll_med_7d", expr("percentile(v, 0.5)").over(w))
      .select("user_id", "day", "v", "roll_med_7d")
  }

  /** A5: single-pass dataset profile (long form, one row per column). */
  def a5Profile(spark: SparkSession, dir: String): DataFrame =
    Profile(Tables.customer(spark, dir))

  /** §3.3 vertical slice — the reference's flagship chain
    * (pipelines/prism/prism-mi-corn-ppt-county.yml:30-85) as ONE plan:
    * clip (P1) → mask (P2) → regrid-fraction (A3) → multiply (J1) →
    * weighted zonal (A2), mapped onto the driver tables: events = fine
    * "CDL" grid (clip to ASIA-nation users = Michigan, click/purchase =
    * corn), orders = the daily "PRISM ppt" stack on the coarse grid,
    * customer buckets = the cell→county assignment. Catalyst fuses the
    * whole chain: the mask never materializes, the fraction grid and
    * county map broadcast, the only shuffles are the two aggregates. */
  def sliceCornWeighted(spark: SparkSession, dir: String): DataFrame = {
    val asiaUsers = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(Tables.region(spark, dir),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").as("c_nationkey"))), Seq("c_nationkey"))
      .select(col("c_custkey").as("user_id"))
    val clipped = Clip.semiOn(Tables.events(spark, dir), asiaUsers,
      lit(true), "user_id")                                     // P1
    val masked = ValueMask(clipped, col("event_type"),
      Seq("click", "purchase"))                                 // P2
    val frac = Regrid.meanByBucket(masked,
      Regrid.affineBucket(col("user_id"), 0.0, 10.0), col("mask")) // A3
      .select("bucket", "frac")
    val ppt = Tables.orders(spark, dir).select(
      Regrid.affineBucket(col("o_custkey"), 0.0, 10.0).as("bucket"),
      to_date(col("o_orderdate")).as("day"),
      col("o_totalprice").as("ppt"))
    val cellToCounty = Tables.customer(spark, dir)
      .groupBy(Regrid.affineBucket(col("c_custkey"), 0.0, 10.0).as("bucket"))
      .agg(min(col("c_nationkey")).as("geoid"))
    val weighted = MultiplyJoin(ppt, frac, Seq("bucket"),
      col("ppt"), col("frac"))                                  // J1
      .join(broadcast(cellToCounty), Seq("bucket"))
    WeightedZonal(weighted, Seq("geoid", "day"),
      col("ppt"), col("frac"), "corn_ppt")                      // A2
  }

  /** O8: keyed catalog upsert (full-outer merge, updates win). */
  def o8CatalogUpsert(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    def cat(df: DataFrame) = df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        max(col("doc_id")).as("last_doc"))
    val existing = cat(d.filter(col("doc_id") < 250))
    val updates = cat(d.filter(col("doc_id") >= 200))
    CatalogMerge.upsert(existing, updates, "source")
  }

  /** The jdbc_write sink round-tripped under the oracle: seed even-keyed
    * orders into the embedded single-file DB (the reference ecosystem's
    * `duckdb_path` persistence contract,
    * /root/reference/pipelines/sample_step.yml:10), upsert a re-priced
    * changelog (every third key +1000) through the same plugin core, and
    * read the final table back through the JDBC source. Last-write-wins
    * per key — the stream_cdc_merge contract through a relational store
    * instead of parquet, which also pins type fidelity (BIGINT/DOUBLE)
    * across the write→store→read cycle. */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.plugins.JdbcWritePlugin
    // fresh store per invocation: shut the (possibly still-booted)
    // engine instance down first — deleting a booted Derby db corrupts
    // the next create (shutdown=true always signals via SQLException)
    val db = graft.Scratch.root(spark, dir, "jdbcdb").resolve("db")
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    graft.Scratch.fresh(spark, dir, "jdbcdb")
    val url = s"jdbc:derby:$db;create=true"
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    JdbcWritePlugin.writeDf(orders.filter(col("o_orderkey") % 2 === 0),
      url, "orders_keyed", "overwrite")
    JdbcWritePlugin.writeDf(
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      url, "orders_keyed", "upsert", keys = Seq("o_orderkey"))
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // PARTITIONED read-back: one JDBC cursor over the whole table is
    // the classic sink-read anti-pattern — stride the key range over
    // parallel cursors (embedded Derby serves concurrent readers
    // in-JVM; on a server database these are concurrent connections).
    // Bounds come from the WRITTEN key range, asked of the store
    // itself over a direct connection (milliseconds on an embedded
    // engine) — a Spark agg over the source would re-scan orders as a
    // whole extra job just to shape the split (guide §1.2). Predicates
    // on the stride column route every row; bounds only shape it.
    val bounds = {
      val con = java.sql.DriverManager.getConnection(url)
      try {
        // the Spark JDBC writer creates COLUMNS quoted (exact case)
        // but passes the TABLE name through unquoted — match both
        val rs = con.createStatement().executeQuery(
          "SELECT MIN(\"o_orderkey\"), MAX(\"o_orderkey\") FROM orders_keyed")
        rs.next()
        val lo = rs.getLong(1); val loNull = rs.wasNull()
        val hi = rs.getLong(2)
        rs.close()
        if (loNull) None else Some((lo, hi))
      } finally con.close()
    }
    // an empty table leaves min/max NULL and a single-key table makes
    // the stride degenerate — both fall back to the plain one-cursor
    // read, which handles them fine
    bounds match {
      case Some((lo, hi)) if lo < hi =>
        spark.read.jdbc(url, "orders_keyed", "o_orderkey", lo, hi, 8, props)
      case _ => spark.read.jdbc(url, "orders_keyed", props)
    }
  }

  /** The same seed→upsert→read-back contract through the reference
    * ecosystem's LITERAL store: a single-file `.duckdb` database via
    * `jdbc:duckdb:` (reference pipelines/sample_step.yml:10
    * `duckdb_path`). What this row pins beyond [[jdbcRoundtrip]] is the
    * DuckDB dialect path under the hash-checked battery — existence-
    * probe classification on a fresh file ([[graft.sources
    * .DuckDbDialect]]), BIGINT/DOUBLE type fidelity across
    * write→store→read, and last-write-wins upsert through the same
    * plugin core. Writes are coalesced to one partition: an embedded
    * single-file store is a sink-correctness pin, not a scan-throughput
    * claim (same note as the Derby row), and DuckDB's optimistic
    * concurrency would otherwise abort racing same-table appends. */
  def duckdbRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.plugins.JdbcWritePlugin
    val root = graft.Scratch.fresh(spark, dir, "duckdb")
    val url = s"jdbc:duckdb:${root.resolve("store.duckdb")}"
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    JdbcWritePlugin.writeDf(
      orders.filter(col("o_orderkey") % 2 === 0).coalesce(1),
      url, "orders_keyed", "overwrite")
    JdbcWritePlugin.writeDf(
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .coalesce(1),
      url, "orders_keyed", "upsert", keys = Seq("o_orderkey"))
    graft.sources.DuckDbDialect.ensureRegistered()
    val props = new java.util.Properties()
    props.setProperty("driver", "org.duckdb.DuckDBDriver")
    // Read back EAGERLY inside the gate (localCheckpoint severs the
    // lazy JDBC scan from downstream consumption): every DuckDB
    // connection this query opens lives within [[DuckGate]], so a
    // parallel suite's DuckDB work cannot interleave with it.
    graft.sources.DuckGate.withDuck {
      spark.read.jdbc(url, "orders_keyed", props).localCheckpoint()
    }
  }

  /** Targeted deletion under the oracle (the GDPR pass): copy events
    * day-partitioned, [[Sink.deleteKeys]] every user ≡ 0 mod 37 (only
    * partitions holding their rows rewrite — byte-identity of untouched
    * files is pinned in PlanShapeSpec), read the survivors back. */
  def targetedDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.fresh(spark, dir, "tdel")
    val path = root.resolve("events").toString
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("date").as("day"), col("value"))
    // Spread.up by day: a one-split scan otherwise writes every day
    // directory from a single task, serially (guide §2.5/§6); hashed
    // on the partition column so each day lands in one task = one file
    Spread.up(ev, col("day")).write.partitionBy("day").parquet(path)
    graft.operators.Sink.deleteKeys(spark, path,
      ev.filter(col("user_id") % 37 === 0).select("user_id"),
      keys = Seq("user_id"), partitionCols = Seq("day"))
    spark.read.parquet(path)
      .select("event_id", "user_id", "day", "value")
  }

  /** Schema evolution under the oracle: two file generations of one
    * dataset (v2 adds a column), read with mergeSchema — v1 rows
    * surface the new column as NULL, the contract an append-only 100 TB
    * lake lives on. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.fresh(spark, dir, "sevo")
    val path = root.resolve("docs").toString
    val d = Tables.documents(spark, dir)
    d.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
      .write.mode("append").parquet(path)
    d.filter(col("doc_id") % 2 =!= 0).select("doc_id", "lang", "n_chars")
      .write.mode("append").parquet(path)
    spark.read.option("mergeSchema", "true").parquet(path)
      .select("doc_id", "lang", "n_chars")
  }

  /** Incremental aggregate maintenance under the oracle — THE
    * production pattern for daily rollups at 100 TB: the served per-
    * (day, event_type) aggregate is built once from history, then each
    * arriving day recomputes ONLY ITSELF and merges in via the
    * partition-scoped [[Sink.mergeInto]] (late data for an existing day
    * REPLACES that day's row — day+type is the merge key). The oracle
    * is the full recompute: incremental maintenance must be
    * indistinguishable from it. */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.fresh(spark, dir, "incr")
    val path = root.resolve("rollup").toString
    val ev = Tables.events(spark, dir)
      .select(col("ts").cast("date").as("day"), col("event_type"),
        col("value"))
    // Spread.up by day inside the rollup: parallelizes the decimal-sum
    // partials past the one-split events scan; day-hashed output also
    // writes each day directory from one task (guide §2.5/§6)
    def rollup(df: DataFrame): DataFrame = Spread.up(df, col("day"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("total"))
    // bootstrap: serve everything before the cutover day
    val cut = ev.agg(max(col("day"))).head().getDate(0)
    rollup(ev.filter(col("day") < lit(cut)))
      .write.partitionBy("day").parquet(path)
    // the new day arrives (plus a LATE batch for the previous day,
    // which must replace that day's already-served row)
    val lateFrom = java.sql.Date.valueOf(cut.toLocalDate.minusDays(1))
    graft.operators.Sink.mergeInto(spark, path,
      rollup(ev.filter(col("day") >= lit(lateFrom))),
      keys = Seq("day", "event_type"), partitionCols = Seq("day"),
      stablePartitions = true)
    spark.read.parquet(path).select("day", "event_type", "n", "total")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rolling_median" -> (rollingMedian _),
    "incremental_rollup" -> (incrementalRollup _),
    "targeted_delete" -> (targetedDelete _),
    "schema_evolution" -> (schemaEvolution _),
    "jdbc_roundtrip" -> (jdbcRoundtrip _),
    "duckdb_roundtrip" -> (duckdbRoundtrip _),
    "a1_zonal_stats" -> (a1ZonalStats _),
    "a2_weighted" -> (a2Weighted _),
    "a3_regrid" -> (a3Regrid _),
    "a4_zscore" -> (a4Zscore _),
    "w1_rollsum" -> (w1Rollsum _),
    "a5_profile" -> (a5Profile _),
    "slice_corn_weighted" -> (sliceCornWeighted _),
    "o8_catalog_upsert" -> (o8CatalogUpsert _))

  def oracles: Map[String, String] = {
    import Exact.sql._
    // Spark-semantics percentiles over a sorted per-group list (NOT
    // quantile_cont: it lacks Spark's equal-straddle-keys shortcut and
    // drifts an ulp on duplicate-heavy groups — see sparkPercentile)
    val qcols = ZonalStats.defaultPercentiles
      .map { case (n, p) =>
        s"${sparkPercentile("l", "val_n", p.toString)} AS val_$n" }
      .mkString(",\n  ")
    Map(
      "a1_zonal_stats" ->
        s"""WITH g AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day,
           |    list_sort(list("value") FILTER ("value" IS NOT NULL)) AS l,
           |    MIN("value") AS val_min,
           |    ${davg("\"value\"")} AS val_avg,
           |    MAX("value") AS val_max,
           |    COUNT("value") AS val_n
           |  FROM events GROUP BY 1, 2)
           |SELECT user_id, day, val_min,
           |  $qcols,
           |  val_avg, val_max, val_n
           |FROM g""".stripMargin,
      "a2_weighted" ->
        s"""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_day,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} /
           |    ${dsum("(1.0 - l_discount)")} AS wavg,
           |  ${dsum("l_extendedprice * (1.0 - l_discount)")} AS wavg_num,
           |  ${dsum("(1.0 - l_discount)")} AS wavg_den
           |FROM lineitem GROUP BY 1, 2""".stripMargin,
      "a3_regrid" ->
        s"""SELECT CAST(FLOOR((user_id - 0.0) / 10.0) AS BIGINT) AS bucket,
           |  ${davg("\"value\"")} AS frac,
           |  COUNT("value") AS frac_n
           |FROM events GROUP BY 1""".stripMargin,
      "a4_zscore" ->
        s"""WITH clim AS (
           |  SELECT user_id, dayofyear(ts) AS doy,
           |    ${davg("\"value\"")} AS mu,
           |    ${dstddevSampStr("\"value\"")} AS sigma
           |  FROM events GROUP BY 1, 2)
           |SELECT e.event_id, e.user_id, CAST(c.doy AS INT) AS doy,
           |  CASE WHEN c.sigma IS NULL OR c.sigma = 0.0 THEN NULL
           |       ELSE (e."value" - c.mu) / c.sigma END AS zscore
           |FROM events e JOIN clim c
           |  ON e.user_id = c.user_id AND dayofyear(e.ts) = c.doy""".stripMargin,
      "w1_rollsum" -> {
        def win(n: Int) =
          s"""CAST(CAST(SUM(v_dec) OVER (PARTITION BY user_id
             |    ORDER BY day - DATE '1970-01-01'
             |    RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)
             |  AS VARCHAR) AS DOUBLE) AS rollsum_${n}d""".stripMargin
        s"""WITH daily AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day,
           |    SUM(CAST("value" AS DECIMAL(30,10))) AS v_dec
           |  FROM events GROUP BY 1, 2)
           |SELECT user_id, day,
           |  CAST(CAST(v_dec AS VARCHAR) AS DOUBLE) AS v,
           |  ${win(3)}, ${win(7)}, ${win(14)}, ${win(30)}
           |FROM daily""".stripMargin
      },
      "a5_profile" -> {
        val cols = Seq(
          ("c_custkey", "bigint", true), ("c_name", "string", false),
          ("c_nationkey", "int", true), ("c_acctbal", "double", true),
          ("c_mktsegment", "string", false))
        cols.map { case (c, t, isNum) =>
          val minNum = if (isNum) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val maxNum = if (isNum) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val minStr = if (!isNum) s"MIN($c)" else "CAST(NULL AS VARCHAR)"
          val maxStr = if (!isNum) s"MAX($c)" else "CAST(NULL AS VARCHAR)"
          s"""SELECT '$c' AS "column", '$t' AS dtype,
             |  COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $minNum AS min_num, $maxNum AS max_num,
             |  $minStr AS min_str, $maxStr AS max_str
             |FROM customer""".stripMargin
        }.mkString("\nUNION ALL\n")
      },
      "slice_corn_weighted" ->
        s"""WITH asia AS (
           |  SELECT n_nationkey FROM nation
           |  JOIN region ON n_regionkey = r_regionkey
           |  WHERE r_name = 'ASIA'),
           |masked AS (
           |  SELECT e.user_id,
           |    CASE WHEN e.event_type IN ('click','purchase')
           |         THEN 1.0 ELSE 0.0 END AS mask
           |  FROM events e
           |  WHERE e.user_id IN (
           |    SELECT c_custkey FROM customer
           |    WHERE c_nationkey IN (SELECT n_nationkey FROM asia))),
           |frac AS (
           |  SELECT CAST(FLOOR((user_id - 0.0) / 10.0) AS BIGINT) AS bucket,
           |    ${davg("mask")} AS frac
           |  FROM masked GROUP BY 1),
           |c2c AS (
           |  SELECT CAST(FLOOR((c_custkey - 0.0) / 10.0) AS BIGINT) AS bucket,
           |    MIN(c_nationkey) AS geoid
           |  FROM customer GROUP BY 1),
           |ppt AS (
           |  SELECT CAST(FLOOR((o_custkey - 0.0) / 10.0) AS BIGINT) AS bucket,
           |    CAST(o_orderdate AS DATE) AS day, o_totalprice AS ppt
           |  FROM orders)
           |SELECT geoid, day,
           |  ${dsumStr("ppt * frac")} / ${dsum("frac")} AS corn_ppt,
           |  ${dsumStr("ppt * frac")} AS corn_ppt_num,
           |  ${dsum("frac")} AS corn_ppt_den
           |FROM ppt
           |JOIN frac USING (bucket)
           |JOIN c2c USING (bucket)
           |GROUP BY 1, 2""".stripMargin,
      "rolling_median" -> {
        val med = sparkPercentile("list_sort(lw)", "len(lw)", "0.5")
        s"""WITH daily AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day,
           |    CAST(CAST(SUM(CAST("value" AS DECIMAL(30,10)))
           |      AS VARCHAR) AS DOUBLE) AS v
           |  FROM events GROUP BY 1, 2),
           |win AS (
           |  SELECT user_id, day, v,
           |    list(v) OVER (PARTITION BY user_id
           |      ORDER BY day - DATE '1970-01-01'
           |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS lw
           |  FROM daily)
           |SELECT user_id, day, v, $med AS roll_med_7d FROM win"""
          .stripMargin
      },
      // incremental maintenance must equal the full recompute
      "incremental_rollup" ->
        s"""SELECT CAST(ts AS DATE) AS day, event_type,
           |  COUNT(*) AS n, ${dsum("\"value\"")} AS total
           |FROM events GROUP BY 1, 2""".stripMargin,
      // survivors of the keyed deletion, day surfaced as DATE
      "targeted_delete" ->
        """SELECT event_id, user_id, CAST(ts AS DATE) AS day, "value"
          |FROM events WHERE user_id % 37 != 0""".stripMargin,
      // v1 generation surfaces the v2-only column as NULL
      "schema_evolution" ->
        """SELECT doc_id, lang,
          |  CASE WHEN doc_id % 2 != 0 THEN n_chars END AS n_chars
          |FROM documents""".stripMargin,
      // last-write-wins over seed ∪ changelog (same contract as
      // stream_cdc_merge, exercised through the relational store)
      "jdbc_roundtrip" ->
        """SELECT o_orderkey, o_custkey,
          |  CASE WHEN o_orderkey % 3 = 0
          |    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
          |    ELSE o_totalprice END AS o_totalprice
          |FROM orders
          |WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0""".stripMargin,
      // identical merge law through the .duckdb single-file store
      "duckdb_roundtrip" ->
        """SELECT o_orderkey, o_custkey,
          |  CASE WHEN o_orderkey % 3 = 0
          |    THEN o_totalprice + CAST(1000.0 AS DOUBLE)
          |    ELSE o_totalprice END AS o_totalprice
          |FROM orders
          |WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0""".stripMargin,
      "o8_catalog_upsert" ->
        """WITH cat_e AS (
          |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars,
          |    MAX(doc_id) AS last_doc
          |  FROM documents WHERE doc_id < 250 GROUP BY source),
          |cat_u AS (
          |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars,
          |    MAX(doc_id) AS last_doc
          |  FROM documents WHERE doc_id >= 200 GROUP BY source)
          |SELECT COALESCE(u.source, e.source) AS source,
          |  CAST(COALESCE(u.n_docs, e.n_docs) AS BIGINT) AS n_docs,
          |  CAST(COALESCE(u.total_chars, e.total_chars) AS BIGINT) AS total_chars,
          |  COALESCE(u.last_doc, e.last_doc) AS last_doc
          |FROM cat_e e FULL OUTER JOIN cat_u u ON e.source = u.source""".stripMargin)
  }
}
