package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference is batch-only with incremental re-run idioms
  * (skip-if-exists, conditional GET, date-partitioned append dirs —
  * /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:22-23);
  * its "streams" are files arriving in staged directories. This module is
  * the engine's streaming mirror of the same aggregations: a file-source
  * stream over a staged directory, watermarked event-time windows
  * (tumbling = per-day zonal aggregation A1, sliding = rolling windows
  * W1), duplicate suppression for re-delivered files, and keyed custom
  * state for incremental per-entity counters.
  *
  * Scale: file-source streams shard listing + processing across the
  * cluster; state stores are per-key and RocksDB-backable; watermarks
  * bound state size — the knobs that matter at 100 TB/day are watermark
  * delay (state retention) and `maxFilesPerTrigger` (micro-batch sizing).
  */
object StreamOps {

  /** File-source stream over a staged directory (the runner's download
    * targets) — schema must be supplied (streams cannot infer).
    * `options`: extra source options, e.g. `basePath` when `dir` is a
    * glob or a single staged file (the source requires a directory
    * basePath to resolve partition columns), or `maxFilesPerTrigger`
    * for micro-batch sizing at scale. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(format).schema(schema).options(options).load(dir)

  /** Tumbling event-time aggregate — the streaming form of per-day zonal
    * stats (A1): count/sum/avg per (key, day window). */
  def tumblingDailyAgg(events: DataFrame, ts: String, key: String,
                       value: String,
                       watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), "1 day").as("w"), col(key))
      .agg(count(lit(1)).as("n"), sum(col(value)).as("total"),
        avg(col(value)).as("mean"))
      .select(col("w.start").as("day_start"), col(key), col("n"),
        col("total"), col("mean"))

  /** Sliding event-time aggregate — the streaming form of trailing
    * rolling sums (W1): an N-day window sliding daily. */
  def slidingSum(events: DataFrame, ts: String, key: String, value: String,
                 windowDays: Int, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), s"$windowDays days", "1 day").as("w"),
        col(key))
      .agg(sum(col(value)).as("total"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col(key), col("total"))

  /** Duplicate suppression within the watermark horizon — re-delivered
    * events/files (the streaming analog of the ledger's idempotence). */
  def dedupedStream(events: DataFrame, ts: String, idCol: String,
                    watermark: String = "1 day"): DataFrame =
    events.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Keyed running counter via mapGroupsWithState — the custom-state
    * surface (per-user lifetime event count + value total).
    *
    * State sums are exact `java.math.BigDecimal` arithmetic, NOT double:
    * the iterator order within a group is partitioning-dependent, so a
    * double fold would make the emitted total depend on shuffle layout.
    * Exact decimal addition is order-independent — the streamed final
    * state equals a batch GROUP BY bit-for-bit, which is what lets this
    * surface sit under a cross-engine oracle (emitted as DecimalType;
    * callers cast to double at read-back, one deterministic rounding —
    * the [[graft.functions.Exact]] discipline). */
  def runningTotals(spark: SparkSession, events: DataFrame, key: String,
                    value: String): DataFrame = {
    import spark.implicits._
    val typed = events.select(col(key).cast("long"),
      col(value).cast(graft.functions.Exact.DecimalT))
      .as[(Long, java.math.BigDecimal)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, java.math.BigDecimal),
        (Long, Long, java.math.BigDecimal)](
        GroupStateTimeout.NoTimeout) {
        case (k, rows, state: GroupState[(Long, java.math.BigDecimal)]) =>
          val (n0, sum0) =
            state.getOption.getOrElse((0L, java.math.BigDecimal.ZERO))
          var n = n0
          var s = sum0
          rows.foreach { r => n += 1; s = s.add(r._2) }
          state.update((n, s))
          (k, n, s)
      }.toDF(key, "n_events", "total_value")
  }

  /** Bounded-state uniform k-sample per group, maintained incrementally
    * via mapGroupsWithState — the streaming form of
    * [[graft.operators.Sample.fixedPerGroup]]: state holds each group's
    * k smallest `(md5(id||salt), id)` pairs seen so far, using the SAME
    * salted key (`Sample.kSampleKey`), so min-k is order-insensitive
    * and an AvailableNow drain equals the batch cut bit-for-bit no
    * matter how the input was micro-batched.
    *
    * This is the 100 TB/day sampling shape: the per-group state is k
    * rows BY CONSTRUCTION — the reservoir never grows with the stream
    * (contrast a streaming distinct, whose state is unbounded), and an
    * always-on inspection sample stays current without ever rescanning
    * the ingested corpus. Emissions are Update-mode
    * `(group, n_seen, ids)` with the ids already in rank order;
    * `n_seen` is strictly monotone per group, so read-back recovers the
    * final sample via `max_by(ids, n_seen)` — the library's
    * Update-drain recovery idiom ([[startParquetSinkUpdates]]). Null ids
    * are filtered before the state op (the batch rule: a row that
    * cannot be re-identified cannot hold a reproducible sample slot).
    */
  def boundedGroupSample(spark: SparkSession, rows: DataFrame,
                         group: String, id: String, k: Int): DataFrame = {
    import spark.implicits._
    val typed = rows.filter(col(id).isNotNull)
      .select(col(group).cast("string"), col(id).cast("long"),
        graft.operators.Sample.kSampleKey(col(id)))
      .as[(String, Long, String)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, List[(String, Long)]),
        (String, Long, Seq[Long])](GroupStateTimeout.NoTimeout) {
        case (g, batch, state: GroupState[(Long, List[(String, Long)])]) =>
          val (n0, samp0) = state.getOption.getOrElse((0L, Nil))
          var n = n0
          var samp = samp0
          batch.foreach { case (_, rid, key) =>
            n += 1
            // insert only when the candidate beats the current kth —
            // O(1) rejection on the hot path, O(k log k) on accept
            if (samp.sizeIs < k || implicitly[Ordering[(String, Long)]]
                .lt((key, rid), samp.last))
              samp = ((key, rid) :: samp).sorted.take(k)
          }
          state.update((n, samp))
          (g, n, samp.map(_._2))
      }.toDF(group, "n_seen", "ids")
  }

  /** Stateless streaming IVF-index ingest — assign each arriving
    * vector to its nearest trained centroid, with the k-row centroid
    * set folded into the plan as LITERALS (collected once at stream
    * build): the assignment is a pure codegen projection — no state
    * store, no stream-side shuffle, no per-batch join — the
    * broadcast-as-constant degenerate case, and the only shape a
    * per-event index maintainer can take at ingest scale (at 100
    * TB/day the assigned stream lands `partitionBy(cluster_id)`, the
    * same layout [[graft.operators.Ivf.writeIndex]] scan-prunes).
    *
    * Ranking is `least` over `(dist², cluster_id)` structs — Spark
    * orders structs lexicographically, so ties break to the lowest
    * cluster_id exactly like [[Ivf.assign]]'s window and the oracle's
    * `ROW_NUMBER ... ORDER BY d2, cluster_id`. The literal `dot(c,c)`
    * term is evaluated by the same codegen expression as the data-side
    * dots, keeping cross-engine bit-parity machinery uniform. */
  def ivfIngest(stream: DataFrame,
                centroids: Array[(Int, Array[Double])],
                id: String = "id", vec: String = "vec"): DataFrame = {
    require(centroids.nonEmpty, "ivfIngest needs a trained centroid set")
    val v = col(vec)
    val scored = centroids.sortBy(_._1).map { case (cid, c) =>
      val cl = typedLit(c.toSeq)
      val d2 = VectorFunctions.dot(v, v) -
        lit(2.0) * VectorFunctions.dot(v, cl) +
        VectorFunctions.dot(cl, cl)
      struct(d2.as("d2"), lit(cid).as("cid"))
    }
    // least() requires >= 2 args; a 1-centroid index is legal (every
    // row lands in that cluster), so route around the AnalysisException
    val nearest =
      if (scored.length == 1) scored.head else least(scored: _*)
    stream.select(col(id), nearest.getField("cid").as("cluster_id"))
  }

  /** Stream-STATIC LEFT ANTI join — continuous-ingest dedup against a
    * historical corpus: an arriving document is admitted only if its
    * exact-text fingerprint (md5) is absent from the static fingerprint
    * index. STATELESS append (no watermark, no state store — the
    * remaining stream-static join mode next to the inner enrich join):
    * the historical side folds to one row per distinct fingerprint
    * before the join, so at ingest scale the per-micro-batch cost is a
    * broadcast/shuffled equi-join against a table that is
    * distinct-content-sized, not raw-corpus-sized. Admission is a pure
    * function of the document text, so the drained output equals the
    * batch anti-join bit-for-bit regardless of micro-batching. */
  def dedupAgainstCorpus(stream: DataFrame, historical: DataFrame,
                         textCol: String = "text"): DataFrame =
    stream.withColumn("__fp", md5(col(textCol)))
      .join(historical.select(md5(col(textCol)).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")

  /** Watermarked stream-stream interval join — the attribution shape:
    * pair each right-stream event with same-key left-stream events it
    * follows within `maxDelay` (e.g. purchase ≤ 1 h after click). Both
    * sides carry watermarks so the join state is bounded: left rows are
    * droppable once `leftTs + maxDelay` passes the right watermark.
    * Right columns come back prefixed `r_`.
    *
    * `joinType` "left_outer" adds the no-match rows: a left row emits
    * null-augmented exactly when the watermark proves no future right
    * row can still land in its interval (state eviction), so the outer
    * tail of the result is watermark-gated — a drain's last
    * `maxDelay`-worth of unmatched left rows stays in state and is NOT
    * emitted. That cutoff is part of the operator contract and what the
    * `stream_outer_join` oracle reproduces. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, maxDelay: String,
                   watermark: String = "1 day",
                   joinType: String = "inner"): DataFrame = {
    val r = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, s"r_$c"))
    left.withWatermark(leftTs, watermark)
      .join(r.withWatermark(s"r_$rightTs", watermark),
        col(key) === col(s"r_$key") &&
          col(s"r_$rightTs") >= col(leftTs) &&
          col(s"r_$rightTs") <= col(leftTs) + expr(s"INTERVAL $maxDelay"),
        joinType)
  }

  /** Threshold-crossing alerts via flatMapGroupsWithState — the 0..n
    * output custom-state surface: one alert row each time a key's
    * running value total crosses another multiple of `threshold`.
    *
    * The running total is exact decimal state (order-independent — see
    * [[runningTotals]]); each level comparison converts the exact total
    * to double first (`BigDecimal.doubleValue`, correctly rounded) and
    * floors THAT, so `floor(total / threshold)` is the identical IEEE
    * computation a batch engine runs on the same exact sum. With
    * non-negative values the total is monotone, and monotone rounding
    * makes the per-batch level ranges stitch exactly: the union of all
    * emitted alerts is `1..floor(finalTotal/threshold)` per key no
    * matter how the input was micro-batched. */
  def thresholdAlerts(spark: SparkSession, events: DataFrame, key: String,
                      value: String, threshold: Double): DataFrame = {
    import spark.implicits._
    val typed = events.select(col(key).cast("long"),
      col(value).cast(graft.functions.Exact.DecimalT))
      .as[(Long, java.math.BigDecimal)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[java.math.BigDecimal, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (k, rows, state: GroupState[java.math.BigDecimal]) =>
          val before = state.getOption.getOrElse(java.math.BigDecimal.ZERO)
          var after = before
          rows.foreach(r => after = after.add(r._2))
          state.update(after)
          val firstLevel =
            math.floor(before.doubleValue() / threshold).toLong + 1
          val lastLevel =
            math.floor(after.doubleValue() / threshold).toLong
          (firstLevel to lastLevel).iterator
            .map(level => (k, level, level * threshold))
      }.toDF(key, "level", "level_value")
  }

  /** Incremental SCD2 change-point detection via flatMapGroupsWithState
    * — the streaming form of [[graft.operators.Scd2]]: per key, state is
    * the last-seen attribute; each batch's group events are sorted into
    * the total (event-time, id) order before change detection (the
    * per-batch iterator order is partitioning-dependent), and a row is
    * emitted for every event whose attribute differs from its
    * predecessor's. The emitted set equals the batch change-point set
    * whenever per-key event time is non-decreasing ACROSS batches
    * (trivially true for a one-batch AvailableNow drain; a production
    * deployment gets it from ordered per-key ingestion). Validity
    * close-out (eff_to, is_current) is derived at read-back with lead()
    * over the committed change rows, because each key's OPEN interval
    * lives in state, not in any emitted row.
    *
    * Scale: state is one string per key; the per-batch sort is per-key
    * in-memory, bounded by micro-batch sizing (`maxFilesPerTrigger`). */
  def scd2Changes(spark: SparkSession, events: DataFrame, key: String,
                  attr: String, us: String, id: String): DataFrame = {
    import spark.implicits._
    // Null contract (shared with batch [[graft.operators.Scd2.build]]):
    // null-attr events are IGNORED — GroupState.update(null) throws and
    // last.contains(null) never matches, so letting them through would
    // both crash and mis-detect changes. Pinned by StreamOpsSpec.
    val typed = events.select(col(key).cast("long"),
        col(attr).cast("string"), col(us).cast("long"),
        col(id).cast("long"))
      .filter(col(attr).isNotNull)
      .as[(Long, String, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[String, (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (k, rows, state: GroupState[String]) =>
          val ordered = rows.toSeq.sortBy(r => (r._3, r._4))
          var last = state.getOption
          val changes = ordered.flatMap { r =>
            if (last.contains(r._2)) None
            else { last = Some(r._2); Some((k, r._2, r._3, r._4)) }
          }
          last.foreach(state.update)
          changes.iterator
      }.toDF(key, attr, us, id)
  }

  /** Session windows: activity bursts separated by >= `gap` of quiet.
    * Spark's native `session_window` — state merges adjacent windows as
    * late events arrive; watermark bounds retained state. Works
    * identically in batch (used by the parity spec). */
  def sessionAgg(events: DataFrame, ts: String, key: String, value: String,
                 gap: String, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap).as("sw"), col(key))
      .agg(count(lit(1)).as("n"), sum(col(value)).as("total"))
      .select(col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col(key), col("n"), col("total"))

  /** Durable sink: append the stream to parquet with exactly-once file
    * commit via the checkpoint dir (offsets + file-sink log). The
    * AvailableNow trigger drains everything staged so far and stops —
    * the incremental-batch shape that replaces the reference's
    * skip-if-exists re-runs: restarting with the same checkpoint resumes
    * AFTER what was already committed instead of re-reading it. At scale
    * add `partitionBy` columns and size `maxFilesPerTrigger`. */
  def toParquetSink(df: DataFrame, path: String, checkpointDir: String,
                    partitionBy: Seq[String] = Nil): Unit =
    startParquetSink(df, path, checkpointDir, partitionBy)
      .awaitTermination()

  /** [[toParquetSink]] without the await: returns the started query so
    * a caller can drain MANY sinks concurrently (each with its own
    * checkpoint — concurrent streams on one session are first-class)
    * and await them together. One multi-sink drain pays the
    * micro-batch machinery (state-store commits, watermark-flush
    * no-data batch, sink metadata log) once in wall-clock instead of
    * once per sink. */
  def startParquetSink(df: DataFrame, path: String, checkpointDir: String,
                       partitionBy: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).start()
  }

  /** Update-mode drain to parquet: mapGroupsWithState requires Update
    * output, which the (append-only) file sink refuses — so each
    * micro-batch's revised rows are appended via foreachBatch instead.
    * A key updated in N batches lands N times in the sink; readers
    * recover the FINAL state with a monotone-column max (e.g.
    * `max(struct(n_events, ...))` — the running count only grows), which
    * also absorbs a replayed epoch after a crash (duplicate rows, same
    * max). AvailableNow + checkpoint keep restart semantics identical to
    * [[toParquetSink]]. Returns the started query (see
    * [[startParquetSink]]). */
  def startParquetSinkUpdates(df: DataFrame, path: String,
                              checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(path)
      }
      .start()

  /** CDC-style streaming upsert: each micro-batch MERGEs into a keyed
    * parquet dataset via [[graft.operators.Sink.mergeInto]] (same-key
    * rows replaced, new keys appended). foreachBatch gives the batch
    * writer exactly-once-per-epoch semantics through the checkpoint; the
    * merge itself is idempotent on replay (same keys → same result), so
    * a retried epoch converges. The dataset must exist (seed it with an
    * initial batch write). */
  def foreachBatchMerge(df: DataFrame, path: String, checkpointDir: String,
                        keys: Seq[String]): Unit =
    startForeachBatchMerge(df, path, checkpointDir, keys)
      .awaitTermination()

  /** [[foreachBatchMerge]] without the await (see
    * [[startParquetSink]]). */
  def startForeachBatchMerge(df: DataFrame, path: String,
                             checkpointDir: String, keys: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: the batch plan is consumed three times (isEmpty, the
        // anti-join key side, the union side) and Catalyst does not CSE
        // across them — without this a stateful aggregation recomputes
        // per consumer
        batch.persist()
        try {
          if (!batch.isEmpty)
            graft.operators.Sink.mergeInto(batch.sparkSession, path,
              batch, keys)
        } finally batch.unpersist()
      }
      .start()
}
