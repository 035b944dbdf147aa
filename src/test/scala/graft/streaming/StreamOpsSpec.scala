package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.streaming.MemoryDrain.runToMemory

/** SURVEY §5.5: events replayed as a file-source stream; windowed
  * aggregates must equal their batch counterparts. */
class StreamOpsSpec extends SparkSpecBase {

  private lazy val eventsBatch = Tables.events(spark, sf)
  // file streams need a DIRECTORY: stage the single parquet into one
  private lazy val stagedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }
  // stream the staged dir; normalize the physical ts like Tables.events
  private lazy val eventsStream = {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    graft.Tables.normalizeEventTs(
      StreamOps.fileStream(spark, stagedDir, raw.schema))
  }

  test("tumbling daily aggregate equals batch groupBy(day)") {
    val streamed = runToMemory(
      StreamOps.tumblingDailyAgg(eventsStream, "ts", "user_id", "value"),
      "tumbling_out")
      .select(to_date(col("day_start")).as("day"), col("user_id"),
        col("n"), col("total"))
    val batch = eventsBatch
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    assert(streamed.count() == batch.count())
    val joined = streamed.alias("s").join(batch.alias("b"),
      Seq("day", "user_id"))
      .filter(col("s.n") =!= col("b.n") ||
        abs(col("s.total") - col("b.total")) > 1e-6)
    assert(joined.count() == 0, "stream/batch daily aggregates diverge")
  }

  test("sliding 3-day window equals batch range-frame rolling sum") {
    val streamed = runToMemory(
      StreamOps.slidingSum(eventsStream, "ts", "user_id", "value", 3),
      "sliding_out")
    // batch check for one (user, window_end): sum of events in [start,end)
    val sample = streamed.orderBy(col("user_id"), col("window_start"))
      .limit(5).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val (ws, we) = (r.getTimestamp(0), r.getTimestamp(1))
      val uid = r.getLong(2)
      val expected = eventsBatch
        .filter(col("user_id") === uid &&
          col("ts") >= lit(ws) && col("ts") < lit(we))
        .agg(sum(col("value"))).head().getDouble(0)
      assert(math.abs(r.getDouble(3) - expected) < 1e-6,
        s"window $ws..$we user $uid")
    }
  }

  test("boundedGroupSample: multi-batch state merge equals the batch " +
    "order-statistic cut; state stays k rows per group") {
    import spark.implicits._
    // two staged files -> maxFilesPerTrigger=1 forces TWO micro-batches,
    // so the k-sample state genuinely merges across batches
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source")
    val dir = java.nio.file.Files.createTempDirectory("gsample_stream")
    docs.repartition(2).write.parquet(s"$dir/in")
    val schema = docs.schema
    val stream = StreamOps.fileStream(spark, s"$dir/in", schema,
      options = Map("maxFilesPerTrigger" -> "1"))
    val drained = runToMemory(
      StreamOps.boundedGroupSample(spark, stream, "source", "doc_id", 7),
      "gsample_out", org.apache.spark.sql.streaming.OutputMode.Update)
    val got = drained.groupBy("source")
      .agg(max_by(col("ids"), col("n_seen")).as("ids"),
        max(col("n_seen")).as("n_seen"))
    // every group saw its full population and kept exactly k
    val sizes = got.select(size(col("ids"))).collect().map(_.getInt(0))
    assert(sizes.nonEmpty && sizes.forall(_ == 7), sizes.toSeq.toString)
    val streamed = got
      .select(col("source"), explode(col("ids")).as("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.operators.Sample
      .fixedPerGroup(docs, col("doc_id"), col("source"), 7)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(streamed == batch,
      s"stream/batch sample diverge: ${streamed.diff(batch)}")
  }

  test("streaming shard manifest: multi-batch state merge equals the " +
    "batch manifest (bounded numShards-row state)") {
    import graft.operators.Shard
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("manifest_stream")
    docs.repartition(2).write.parquet(s"$dir/in")
    val stream = StreamOps.fileStream(spark, s"$dir/in", docs.schema,
      options = Map("maxFilesPerTrigger" -> "1"))
    def manifestOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("doc_id").isNotNull)
      .select(Shard.shardOf(col("doc_id"), 8).as("shard"),
        size(split(trim(lower(col("text"))), "[ \\t\\n\\r]+")).cast("long")
          .as("n_tok"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"))
    val drained = runToMemory(manifestOf(stream),
      "manifest_out", org.apache.spark.sql.streaming.OutputMode.Update)
    val streamed = drained.groupBy("shard")
      .agg(max(struct(col("n_docs"), col("n_tokens"), col("n_chars")))
        .as("m"))
      .select(col("shard"), col("m.n_docs"), col("m.n_tokens"),
        col("m.n_chars"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = manifestOf(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch,
      s"diverge: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
  }

  test("ivfIngest: multi-batch drain equals batch Ivf.assign; " +
    "stateless literal-centroid projection") {
    import graft.operators.{Ivf, Similarity}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"))
    val centroids = Ivf.train(emb.filter(col("id") % 2 === 0), 8, 1)
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream")
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    raw.repartition(2).write.parquet(s"$dir/in")
    val stream = StreamOps.fileStream(spark, s"$dir/in", raw.schema,
        options = Map("maxFilesPerTrigger" -> "1"))
      .select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"))
    val q = StreamOps.ivfIngest(stream, cents)
      .writeStream.format("memory").queryName("ivf_ingest_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    q.processAllAvailable()
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps == null || stateOps.isEmpty,
      s"expected stateless plan, got ${stateOps.mkString(",")}")
    q.stop()
    val streamed = spark.table("ivf_ingest_out")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val batch = Ivf.assign(emb, centroids)
      .select("id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(streamed == batch,
      s"diverge on ${(streamed.keySet ++ batch.keySet)
        .filter(k => streamed.get(k) != batch.get(k)).take(5)}")
    assert(streamed.values.toSet.size > 1, "degenerate single cluster")
  }

  test("ivfIngest: a 1-centroid index is legal — every row routes to " +
    "that cluster (no least() arity trap)") {
    val raw = spark.read.parquet(s"$sf/embeddings.parquet").limit(32)
    val dir = java.nio.file.Files.createTempDirectory("ivf_one")
    raw.write.parquet(s"$dir/in")
    val stream = StreamOps.fileStream(spark, s"$dir/in", raw.schema)
      .select(col("vec_id").as("id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("vec"))
    val one = Array(7 -> Array.fill(64)(0.0))
    val q = StreamOps.ivfIngest(stream, one)
      .writeStream.format("memory").queryName("ivf_one_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ivf_one_out")
    assert(out.count() == 32)
    assert(out.select("cluster_id").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(7))
  }

  test("dedupAgainstCorpus: multi-batch drain equals the batch " +
    "anti-join; the plan is stateless (no state store)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hist = docs.filter(col("doc_id") % 7 === 0)
    val dir = java.nio.file.Files.createTempDirectory("cdedup_stream")
    docs.repartition(2).write.parquet(s"$dir/in")
    val stream = StreamOps.fileStream(spark, s"$dir/in", docs.schema,
      options = Map("maxFilesPerTrigger" -> "1"))
    val admitted = StreamOps.dedupAgainstCorpus(stream, hist)
      .select("doc_id")
    val q = admitted.writeStream.format("memory")
      .queryName("cdedup_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    q.processAllAvailable()
    // stateless claim: no state-store operators reported
    val stateOps = q.lastProgress.stateOperators
    assert(stateOps == null || stateOps.isEmpty,
      s"expected stateless plan, got ${stateOps.mkString(",")}")
    q.stop()
    val streamed = spark.table("cdedup_out")
      .collect().map(_.getLong(0)).toSet
    val batch = docs.join(
        hist.select(md5(col("text")).as("__fp")).distinct()
          .withColumnRenamed("__fp", "fp"),
        md5(docs("text")) === col("fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"diverge: ${(streamed -- batch).take(5)} / ${(batch -- streamed).take(5)}")
    // the filter bites, and not everything is dropped
    assert(streamed.nonEmpty && streamed.size < docs.count())
  }

  test("dropDuplicatesWithinWatermark suppresses re-delivered events") {
    import spark.implicits._
    val dup = eventsBatch.limit(100)
    val stream = graft.Tables.normalizeEventTs(
      StreamOps.fileStream(spark, stagedDir,
        spark.read.parquet(s"$sf/events.parquet").schema))
    val deduped = runToMemory(
      StreamOps.dedupedStream(stream.unionByName(stream), "ts", "event_id"),
      "dedup_out", org.apache.spark.sql.streaming.OutputMode.Append)
    assert(deduped.count() == eventsBatch.count())
    val _ = dup
  }

  test("parquet sink: checkpointed AvailableNow drain; restart adds nothing") {
    val out = java.nio.file.Files.createTempDirectory("stream_sink")
    val sink = s"$out/data"
    val ckpt = s"$out/ckpt"
    StreamOps.toParquetSink(eventsStream, sink, ckpt)
    assert(spark.read.parquet(sink).count() == eventsBatch.count())
    // same checkpoint, no new files staged -> nothing re-committed
    StreamOps.toParquetSink(eventsStream, sink, ckpt)
    assert(spark.read.parquet(sink).count() == eventsBatch.count(),
      "restart with an up-to-date checkpoint must not duplicate rows")
  }

  test("foreachBatch merge: streamed per-user totals upsert into parquet") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("stream_merge")
    val target = s"$out/totals"
    // seed: zero totals for three users
    Seq((0L, 0L), (1L, 0L), (2L, 0L)).toDF("user_id", "n_events")
      .write.parquet(target)
    // stream per-user counts (Update mode emits revised totals)
    val counts = eventsStream.filter(col("user_id") < 5)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    StreamOps.foreachBatchMerge(counts, target, s"$out/ckpt", Seq("user_id"))
    val got = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = eventsBatch.filter(col("user_id") < 5)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // streamed totals overwrote the seeds; users not in the stream keep
    // their seeded rows
    expected.foreach { case (u, n) => assert(got(u) == n, s"user $u") }
    assert(got.keySet == (expected.keySet ++ Set(0L, 1L, 2L)))
  }

  test("stream-stream interval join equals the batch interval join") {
    // click→purchase attribution within 2 hours, same user
    val clicks = eventsStream.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = eventsStream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val streamed = runToMemory(
      StreamOps.intervalJoin(clicks, purchases, "user_id",
        "click_ts", "p_ts", "2 hours"),
      "ssjoin_out", org.apache.spark.sql.streaming.OutputMode.Append)
    val bc = eventsBatch.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val bp = eventsBatch.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user_id"), col("ts").as("p_ts"))
    val batch = bc.join(bp,
      col("user_id") === col("r_user_id") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 2 hours"))
    assert(streamed.count() == batch.count())
    assert(streamed.count() > 0)
  }

  test("flatMapGroupsWithState emits one alert per crossed threshold") {
    val streamed = runToMemory(
      StreamOps.thresholdAlerts(spark, eventsStream, "user_id", "value",
        threshold = 500.0),
      "alerts_out", org.apache.spark.sql.streaming.OutputMode.Append)
    // batch truth: per user, floor(total/500) alerts, levels 1..floor
    val batch = eventsBatch.groupBy("user_id")
      .agg(floor(sum(col("value")) / 500.0).cast("long").as("n_levels"))
      .filter(col("n_levels") >= 1)
    val got = streamed.groupBy("user_id")
      .agg(count(lit(1)).as("n_alerts"), max("level").as("max_level"))
    val diff = got.join(batch, "user_id")
      .filter(col("n_alerts") =!= col("n_levels") ||
        col("max_level") =!= col("n_levels"))
    assert(diff.count() == 0, "alert counts diverge from batch truth")
    assert(got.count() == batch.count())
  }

  test("mapGroupsWithState running totals equal batch per-user totals") {
    val streamed = runToMemory(
      StreamOps.runningTotals(spark, eventsStream, "user_id", "value"),
      "state_out")
    // memory sink in Update mode keeps every emitted row; take the last
    // state per user
    val latest = streamed.groupBy("user_id")
      .agg(max(col("n_events")).as("n"), max(col("total_value")).as("t"))
    val batch = eventsBatch.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("t"))
    val diff = latest.alias("s").join(batch.alias("b"), "user_id")
      .filter(col("s.n") =!= col("b.n") ||
        abs(col("s.t") - col("b.t")) > 1e-6)
    assert(diff.count() == 0)
  }

  test("scd2 change-point state survives MULTI-batch ordered ingestion") {
    // the one-batch drain is trivially ordered; this pins the cross-
    // batch contract: state (last attr per key) must stitch batches
    // together when files arrive in event-time order, one per batch
    val staging = java.nio.file.Files.createTempDirectory("scd2_multi")
    val ev = eventsBatch.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"))
    val (lo, hi) = {
      val r = ev.agg(min("us"), max("us")).head()
      (r.getLong(0), r.getLong(1))
    }
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val slices = Seq(
      ev.filter(col("us") <= cut1),
      ev.filter(col("us") > cut1 && col("us") <= cut2),
      ev.filter(col("us") > cut2))
    slices.zipWithIndex.foreach { case (s, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"scd2_slice$i")
      s.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val found = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(found, staging.resolve(f"$i%02d.parquet"))
      Thread.sleep(20) // distinct mtimes: the source processes oldest-first
    }
    val stream = StreamOps.fileStream(spark, staging.toString,
      ev.schema, options = Map("maxFilesPerTrigger" -> "1"))
    val streamed = runToMemory(
      StreamOps.scd2Changes(spark, stream, "user_id", "event_type",
        "us", "event_id"),
      "scd2_multi_out", org.apache.spark.sql.streaming.OutputMode.Append)
    val got = streamed.select(col("user_id"), col("event_type"),
      expr("us div 1000").as("eff_from_ms"))
    val batch = graft.operators.Scd2.build(eventsBatch, col("user_id"),
        col("event_type"), expr("unix_micros(ts)"), col("event_id"))
      .select(col("user_id"), col("attr").as("event_type"),
        col("eff_from_ms"))
    assert(got.count() == batch.count(),
      s"change-point counts diverge: ${got.count()} vs ${batch.count()}")
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "multi-batch change-point set differs from the batch build")
  }

  test("scd2 null contract: null-attr events are ignored by BOTH the " +
    "batch and streaming forms") {
    // the shared contract (a null attribute carries no dimension
    // value): without the up-front filter the forms diverge — batch
    // lag() conflates null-attr with no-predecessor, and streaming
    // GroupState.update(null) throws IllegalArgumentException
    val rows = Seq(
      (1L, "a", 1000L, 1L), (1L, null, 2000L, 2L), (1L, "b", 3000L, 3L),
      (2L, null, 1000L, 4L), (2L, "x", 2000L, 5L), (2L, "x", 3000L, 6L))
    val sparkLocal = spark
    import sparkLocal.implicits._
    val ev = rows.toDF("user_id", "event_type", "us", "event_id")
    val batch = graft.operators.Scd2.build(ev, col("user_id"),
        col("event_type"), col("us"), col("event_id"))
      .select(col("user_id"), col("attr"), col("eff_from_ms"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(batch == Set((1L, "a", 1L), (1L, "b", 3L), (2L, "x", 2L)),
      s"batch got $batch")
    val staging = java.nio.file.Files.createTempDirectory("scd2_nulls")
    val tmp = java.nio.file.Files.createTempDirectory("scd2_nulls_w")
    ev.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val found = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(found, staging.resolve("00.parquet"))
    val stream = StreamOps.fileStream(spark, staging.toString, ev.schema)
    val streamed = runToMemory(
      StreamOps.scd2Changes(spark, stream, "user_id", "event_type",
        "us", "event_id"),
      "scd2_nulls_out", org.apache.spark.sql.streaming.OutputMode.Append)
    val got = streamed.select(col("user_id"), col("event_type"), col("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, "a", 1000L), (1L, "b", 3000L), (2L, "x", 2000L)),
      s"stream got $got")
  }

  test("drains run identically on the RocksDB state store (the 100 TB " +
    "state backend)") {
    // the default HDFS-backed provider keeps state on the JVM heap —
    // fine at test scale, not at TB state. RocksDB spills to local SSD
    // with bounded memory; results must be byte-identical. Isolated
    // sub-session: provider choice is a session conf.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val stream = graft.Tables.normalizeEventTs(
      StreamOps.fileStream(ss, stagedDir, raw.schema))
    val streamed = runToMemory(
      StreamOps.tumblingDailyAgg(stream, "ts", "user_id", "value"),
      "rocksdb_out", org.apache.spark.sql.streaming.OutputMode.Complete)
    val got = streamed
      .select(to_date(col("day_start")).as("day"), col("user_id"),
        col("n"), col("total"))
    // batch truth built on the SAME sub-session (mixing DataFrames
    // across sessions in one plan is not a supported shape)
    val batch = Tables.events(ss, sf)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val diff = got.alias("s").join(batch.alias("b"), Seq("day", "user_id"))
      .filter(col("s.n") =!= col("b.n") ||
        abs(col("s.total") - col("b.total")) > 1e-6)
    assert(got.count() == batch.count())
    assert(diff.count() == 0, "RocksDB-backed aggregate diverges from batch")
  }
}
