package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusDiff, Dedup, Shard}

/** Measurement harness for the incremental-refresh claim
  * (`examples/corpus_refresh.yml`): a small-delta corpus refresh must
  * cost ~delta, not ~corpus.
  *
  * Builds a previous snapshot that differs from the current corpus in
  * ~`deltaPct` of docs (half newly-added, half re-edited), then times
  * the two refresh strategies end-to-end (each fully materialized to
  * parquet shards):
  *
  *  - INCREMENTAL: [[CorpusDiff.diff]] over 16-byte fingerprints →
  *    reprocess (minhash-signature, the per-doc "re-embed" stand-in)
  *    ONLY the added+changed docs → [[Shard.writeSharded]] the delta
  *  - FULL: reprocess + reshard the entire current corpus (what a
  *    pipeline without versioning pays every refresh)
  *
  * Prints one JSON line with both walls and the delta fraction; the
  * BASELINE.md row quotes it. The diff itself touches both snapshots
  * (that scan is the irreducible cost of knowing what changed — at
  * 100 TB it ships 32 bytes/row, not text), so the expected incremental
  * wall is `scan(2 corpora fingerprints) + delta-proportional
  * reprocess`, far below the full path's corpus-proportional reprocess.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=16g sbt "runMain graft.RefreshBench \
  *     /tmp/graft_sf1 /tmp/graft_refresh 0.01"
  */
object RefreshBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RefreshBench <docsDir> <workDir> [deltaPct=0.01] [numShards=16]")
    val docsDir = args(0)
    val workDir = args(1)
    val deltaPct = if (args.length > 2) args(2).toDouble else 0.01
    val numShards = if (args.length > 3) args(3).toInt else 16
    val spark = GraftSession.builder("graft-refresh-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val curr = spark.read.parquet(s"$docsDir/documents.parquet")
    // prev snapshot: a deterministic ~deltaPct/2 slice of ids is absent
    // (those docs read as 'added' in curr) and another ~deltaPct/2 is
    // re-edited (read as 'changed'); modulus arithmetic keeps the carve
    // reproducible
    val m = math.max(2, math.round(2.0 / deltaPct).toInt)
    val prev = curr.filter(col("doc_id") % m =!= 1)
      .withColumn("text",
        when(col("doc_id") % m === 0, concat(col("text"), lit(" [draft]")))
          .otherwise(col("text")))
    prev.write.mode("overwrite").parquet(s"$workDir/prev.parquet")
    val prevDf = spark.read.parquet(s"$workDir/prev.parquet")

    // the per-doc reprocessing stage both paths share — a real operator
    // (8-hash minhash signature over 3-gram shingles), the engine's
    // stand-in for "re-embed"
    def reprocess(df: DataFrame): DataFrame =
      Dedup.minhashSignaturesMd5(df, "doc_id", col("text"))
        .join(df, "doc_id")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warmup: footer reads + codegen on both inputs
    curr.write.format("noop").mode("overwrite").save()
    prevDf.write.format("noop").mode("overwrite").save()

    val fullSec = timed {
      Shard.writeSharded(reprocess(curr), col("doc_id"), numShards,
        s"$workDir/full_shards")
    }
    var deltaRows = 0L
    val incrSec = timed {
      val diff = CorpusDiff.diff(prevDf, curr, col("doc_id"), col("text"))
      val delta = curr.join(
        diff.filter(col("status").isin("added", "changed")).select("id"),
        curr("doc_id") === col("id")).drop("id")
      Shard.writeSharded(reprocess(delta), col("doc_id"), numShards,
        s"$workDir/delta_shards")
      deltaRows = spark.read.parquet(s"$workDir/delta_shards").count()
    }
    val totalRows = curr.count()
    println(s"""{"metric":"refresh","corpus_rows":$totalRows,"delta_rows":$deltaRows,"delta_frac":${deltaRows.toDouble / totalRows},"incremental_sec":$incrSec,"full_sec":$fullSec,"incr_over_full":${incrSec / fullSec},"num_shards":$numShards,"docs_dir":"$docsDir"}""")
    spark.stop()
  }
}
