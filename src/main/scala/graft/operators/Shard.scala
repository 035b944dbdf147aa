package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus shuffle + resharding — the final step of a
  * training-data pipeline: the curated corpus is written as S shards,
  * each internally ordered by a salted hash of the row id, so reading
  * shards 0..S-1 in order replays a fixed pseudo-random permutation of
  * the corpus (the "global shuffle" every trainer wants) without ANY
  * global sort.
  *
  * Reproducibility contract (the [[Split]]/[[Sample]] family rule):
  * shard and in-shard order are pure functions of the row id —
  * identical across runs, engines, partitionings and cluster sizes,
  * and the RELATIVE order of surviving rows is stable under corpus
  * growth/filtering (new rows interleave; existing rows never swap).
  * The salt (`":shard"`) differs from the split/sample salts, so shard
  * assignment is uncorrelated with train/val membership and sampling.
  *
  * Scale shape: one stateless hash projection + ONE hash-partition
  * exchange on `shard` + an in-partition sort (the `shard_pos` window
  * is partitioned — never a single global window). That is exactly the
  * plan `write.partitionBy("shard")` + `sortWithinPartitions` needs, so
  * at 100 TB the shuffle IS the shard write — no extra pass, no driver
  * state, no TeraSort-style global range partition to balance.
  *
  * Sizing rule at scale: `numShards` must track DATA, not cores — each
  * shard is sorted by one task, so choose S ≈ corpus_bytes /
  * target_shard_bytes (1–4 GB per shard; 100 TB → S in the tens of
  * thousands, within the 65536 cap). S is part of the permutation's
  * identity (positions change with S), so version it with the cut.
  */
object Shard {

  private val salt = ":shard"

  /** Epoch 0 keeps the bare salt (the oracle-pinned form); epoch e > 0
    * appends `:e`, giving every training epoch its own independent
    * permutation from the same id set. */
  private def epochSalt(epoch: Int): String =
    if (epoch == 0) salt else s"$salt:$epoch"

  /** The salted permutation key as a Column (shared with the oracle
    * SQL via md5's cross-engine bit-identity). */
  def shardKey(id: Column, epoch: Int = 0): Column =
    md5(concat(id.cast("string"), lit(epochSalt(epoch))))

  /** Shard of an id: the first 4 hex digits of the salted md5 parsed
    * as an int (uniform over [0, 65536)) mod `numShards`. Exactly
    * uniform when `numShards` divides 65536; otherwise skewed by at
    * most numShards/65536 relative — negligible for practical S. */
  def shardOf(id: Column, numShards: Int, epoch: Int = 0): Column =
    (conv(substring(shardKey(id, epoch), 1, 4), 16, 10).cast("long")
      % numShards).cast("int")

  /** Shared single-exchange assignment plan, `__shkey` still attached.
    *
    * The `repartition(numShards, shard)` sits BEFORE the window on
    * purpose: it is the plan's ONLY exchange. The window's required
    * distribution (clustered by `shard`) is satisfied by
    * `hashpartitioning(shard, numShards)`, so EnsureRequirements adds
    * no second shuffle, and the writer inherits shard co-location for
    * free. Partition→shard packing is `murmur3(shard) % numShards`, so
    * a task may hold 2+ shards while another holds none — balls-in-bins
    * skew, max load O(log S / log log S) shards per task, NOT data
    * skew at the 1–4 GB/shard sizing rule. */
  private def assignKeyed(df: DataFrame, id: Column, numShards: Int,
                          epoch: Int): DataFrame = {
    require(numShards > 0 && numShards <= 65536,
      s"numShards must be in [1, 65536], got $numShards")
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    df.filter(id.isNotNull)
      .withColumn("__shkey", shardKey(id, epoch))
      .withColumn("shard", shardOf(id, numShards, epoch))
      .repartition(numShards, col("shard"))
      .withColumn("shard_pos",
        row_number().over(
          Window.partitionBy("shard").orderBy(col("__shkey"), id))
          .cast("long"))
  }

  /** rows + `(shard INT, shard_pos BIGINT)`; `shard_pos` is the row's
    * 1-based position in its shard's hash order (ties on the 128-bit
    * key are impossible in practice but broken by id for determinism).
    *
    * `epoch` re-keys the whole permutation: multi-epoch training wants
    * a DIFFERENT deterministic order each pass, and salting the hash
    * with the epoch gives exactly that — same rows, same shard balance
    * law, independent order — while epoch 0 remains the pinned
    * default.
    *
    * NULL ids are EXCLUDED (the [[Sample]] rule: a row that cannot be
    * re-identified cannot hold a reproducible position); callers that
    * must keep them should assign surrogate ids first.
    */
  def assign(df: DataFrame, id: Column, numShards: Int,
             epoch: Int = 0): DataFrame =
    assignKeyed(df, id, numShards, epoch).drop("__shkey")

  /** The pre-write plan [[writeSharded]] executes — exposed (package-
    * private) so PlanShapeSpec can pin its shape: exactly ONE exchange,
    * no global sort. The trailing `sortWithinPartitions` re-states the
    * window's output order in the columns the writer needs; it is
    * removed as redundant (physical RemoveRedundantSorts: the window's
    * `(shard, __shkey, id)` ordering prefixes it) and exists so the
    * on-disk replay order is CONTRACT, not an accident of WindowExec's
    * order preservation. */
  private[graft] def shardedForWrite(df: DataFrame, id: Column,
                                     numShards: Int,
                                     epoch: Int): DataFrame =
    assignKeyed(df, id, numShards, epoch)
      .sortWithinPartitions("shard", "__shkey")
      .drop("__shkey")

  /** Write `df` as physical shards: one directory per `shard`, rows
    * inside each file in `shard_pos` (replay) order. Plans assignment
    * and write as ONE query with ONE exchange — the shuffle IS the
    * shard write (pinned in PlanShapeSpec): [[assignKeyed]] already
    * hash-partitions by `shard` into `numShards` tasks, so the
    * partitioned writer opens each shard's files over already-sorted,
    * co-located rows. */
  def writeSharded(df: DataFrame, id: Column, numShards: Int,
                   path: String, epoch: Int = 0): Unit =
    shardedForWrite(df, id, numShards, epoch)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** The shards a [[writeSharded]] write committed under `path`: its
    * `shard=<k>` directories. The partitioned writer creates one only
    * for a shard that received rows, so this equals the distinct
    * `shard` values of the written rows without reading them. */
  def committedShards(spark: SparkSession, path: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir)
      .count(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .toLong
  }

  /** Per-shard trainer manifest over an [[assign]]-ed corpus: doc,
    * token and char totals per shard — the sidecar every training job
    * reads to size epochs/steps before touching data. One map-side-
    * combinable aggregate keyed by the (bounded) shard id. */
  def manifest(assigned: DataFrame, tokens: Column,
               chars: Column): DataFrame =
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokens.cast("long")).as("n_tokens"),
        sum(chars.cast("long")).as("n_chars"))

  /** The shard expression as DuckDB SQL over `idExpr`, for oracles —
    * strpos-arithmetic hex parse (DuckDB has no `conv`), value-equal
    * to [[shardOf]]. `epoch` mirrors [[epochSalt]] (default 0, the
    * bare salt) so an oracle over an epoch>0 cut states its epoch at
    * the call site instead of silently checking epoch 0. */
  def sqlShard(idExpr: String, numShards: Int, epoch: Int = 0): String = {
    val hx = s"md5(CAST($idExpr AS VARCHAR) || '${epochSalt(epoch)}')"
    val terms = (1 to 4).map { i =>
      val w = 1 << (4 * (4 - i))
      s"(strpos('0123456789abcdef', substr($hx, $i, 1)) - 1) * $w"
    }.mkString(" + ")
    s"CAST(($terms) % $numShards AS INT)"
  }
}
