package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types._

/** BPE vocabulary induction (north-star scope, SURVEY §7.6: the
  * tokenizer-training side of a pretraining pipeline — Sennrich et
  * al.'s byte-pair-encoding merge learning, public knowledge).
  *
  * Classic BPE: start from characters, repeatedly merge the most
  * frequent adjacent symbol pair across the corpus. Learning runs on
  * the word histogram (vocabulary-sized, ≪ corpus): the corpus
  * collapses to (word, freq) once, and every subsequent job touches
  * only that table.
  *
  * '''Batched learning.''' A real tokenizer learns 32k–100k merges;
  * one Spark job per merge is a scale-killer (32k sequential jobs,
  * each a full pass). Instead each pass computes the pair-frequency
  * table once and accepts a PREFIX of the (count desc, lhs, rhs)
  * order, subject to two rules that make the batch provably identical
  * to one-merge-at-a-time learning:
  *
  *  1. ''disjoint'': a candidate is only accepted while its two
  *     symbols avoid every symbol (and merged string) of earlier
  *     accepted candidates in the pass — merging (a,b) only destroys
  *     pairs touching {a,b} and only creates pairs touching "ab", so
  *     a disjoint candidate's count is invariant under the earlier
  *     merges. Acceptance stops at the first conflict, so the batch
  *     is a contiguous prefix of the global order.
  *  2. ''strict dominance'': the batch is then trimmed to candidates
  *     whose count is STRICTLY greater than `bound` = max count of
  *     (first conflicting candidate, anything below the collected
  *     pool). Every pair a batch merge creates has count ≤ the count
  *     of a destroyed pair (each new (x,ab) occurrence maps 1:1 to an
  *     old (x,a) occurrence), and destroyed pairs all conflict, so
  *     they sit at or below `bound` — strictly below every kept
  *     candidate. Ties therefore cannot reorder the argmax, and the
  *     sequential learner would pick exactly this prefix.
  *
  * Worst case (all top pairs share symbols) the batch degenerates to
  * size 1 = the sequential algorithm; typical corpora accept tens of
  * merges per pass, cutting passes ~batch×. Driver traffic per pass is
  * one bounded `limit(pool+1)` collect (like [[Ivf]]'s k centroids).
  *
  * Merge application uses a delimiter encoding instead of a per-row
  * lambda fold: a word's segmentation is kept as a string with TWO
  * spaces between symbols and two at the ends (`"  h  u  g  "`), and
  * merging pair (a, b) is `replace(seg, " a  b ", " ab ")`. The
  * single-space padding means consecutive occurrences (`a b a b`)
  * do NOT share delimiter characters, so leftmost-nonoverlapping
  * `replace` — the same scan both engines implement — merges ALL
  * adjacent occurrences, which is exactly canonical BPE's apply step
  * (pinned by BpeSpec against an independent in-memory reference).
  * Ties in the argmax break by (pair count desc, left asc, right asc)
  * — a total order, so the learned table is deterministic and
  * bit-comparable cross-engine.
  */
object Bpe {

  /** Longest merge list applied as a replace-expression chain; longer
    * lists use the [[encodeCounts]] rank-pointer encoder. */
  val maxChainMerges = 32

  private[operators] val mergesSchema = StructType(Seq(
    StructField("merge_rank", IntegerType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** (word → freq) histogram with the delimiter-encoded character
    * segmentation — the vocabulary-sized learning substrate. */
  private[operators] def initialSegments(docs: DataFrame, text: Column): DataFrame =
    docs
      .select(explode(TextStats.tokens(text)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        concat(lit("  "),
          concat_ws("  ", filter(split(col("w"), ""), s => s =!= "")),
          lit("  ")))
      .select("freq", "seg")

  /** Weighted adjacent-pair counts of the current segmentation: one
    * explode + one hash aggregate (map-side partials). */
  private[operators] def pairCounts(seg: DataFrame): DataFrame = {
    val arr = split(trim(col("seg")), "  ")
    seg
      .withColumn("__arr", arr)
      .filter(size(col("__arr")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("__arr")) - 2),
        i => struct(element_at(col("__arr"), i + 1).as("lhs"),
          element_at(col("__arr"), i + 2).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("n"))
  }

  /** Chain the pass's accepted merges (rank order; symbol-disjoint, so
    * order is immaterial) onto the segmentation. */
  private[operators] def applyMerges(seg: DataFrame,
                          batch: Seq[(String, String)]): DataFrame = {
    var d = seg
    batch.foreach { case (a, b) =>
      d = d.withColumn("__find", lit(s" $a  $b "))
        .withColumn("__repl", lit(s" $a$b "))
        .withColumn("seg", expr("replace(seg, __find, __repl)"))
    }
    d.select("freq", "seg")
  }

  /** Greedy batch selection per the scaladoc rules: disjoint prefix,
    * then strict-dominance trim. `cands` is the collected pool in
    * (n desc, lhs, rhs) order; `tailBound` is the count of the first
    * row BEYOND the pool (-1 when the pool is exhaustive). */
  private[operators] def selectBatch(
      cands: IndexedSeq[(String, String, Long)], tailBound: Long,
      cap: Int): Seq[(String, String, Long)] = {
    if (cands.isEmpty) return Nil
    val used = mutable.Set.empty[String]
    val accepted = mutable.ArrayBuffer.empty[(String, String, Long)]
    var bound = tailBound
    var i = 0
    var stopped = false
    while (!stopped && i < cands.length && accepted.length < cap) {
      val (a, b, _) = cands(i)
      if (used(a) || used(b)) { bound = math.max(bound, cands(i)._3); stopped = true }
      else { accepted += cands(i); used ++= Seq(a, b, a + b); i += 1 }
    }
    // Unconsumed pool rows (cap hit / pool end) also bound the batch:
    // the sequential learner would see them next round.
    if (!stopped && i < cands.length) bound = math.max(bound, cands(i)._3)
    // Strict-dominance trim — a prefix, since counts are non-increasing.
    // The global argmax (head) is always safe: nothing can overtake it.
    val kept = accepted.head +: accepted.tail.takeWhile(_._3 > bound)
    kept.toSeq
  }

  /** Learn `rounds` merges from whitespace-tokenized `text`, batching
    * up to `batchCap` merges per distributed pass (see scaladoc — the
    * result is bit-identical to the one-merge-per-pass form).
    * @return one row per merge: (merge_rank, lhs, rhs, merged, n) in
    *         learning order; `n` is the corpus-wide occurrence count
    *         that won the round. */
  def learnMerges(docs: DataFrame, text: Column, rounds: Int,
                  batchCap: Int = 64, poolSize: Int = 4096,
                  checkpointDir: Option[String] = None): DataFrame =
    learnMergesCounted(docs, text, rounds, batchCap, poolSize,
      checkpointDir)._1

  /** [[learnMerges]] plus the number of distributed passes taken —
    * exposed so BpeSpec can pin the batching win (k merges in far
    * fewer than k passes). */
  private[graft] def learnMergesCounted(
      docs: DataFrame, text: Column, rounds: Int,
      batchCap: Int = 64, poolSize: Int = 4096,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(rounds >= 1 && batchCap >= 1 && poolSize >= batchCap)
    val spark = docs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // Iterative consumer: every pass re-reads and REPLACES seg, so each
    // pass must checkpoint (truncate lineage), not just persist — the
    // logical plan would otherwise accumulate batchCap replace()s per
    // pass and analysis cost blows up with the merge count (same
    // lesson as KCore). Reliable checkpoint when a dir is given (a
    // cluster with executor loss), local otherwise.
    def pin(d: DataFrame): DataFrame = {
      val p = d.persist(StorageLevel.MEMORY_AND_DISK)
      if (checkpointDir.isDefined) p.checkpoint(true)
      else p.localCheckpoint(true)
    }
    var seg = pin(initialSegments(docs, text))

    val merges = Seq.newBuilder[Row]
    var learned = 0
    var passes = 0
    var exhausted = false
    while (learned < rounds && !exhausted) {
      passes += 1
      val pool = pairCounts(seg)
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(poolSize + 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (pool.isEmpty) exhausted = true
      else {
        val truncated = pool.length > poolSize
        val cands: IndexedSeq[(String, String, Long)] =
          if (truncated) pool.toIndexedSeq.take(poolSize)
          else pool.toIndexedSeq
        val tailBound = if (truncated) pool(poolSize)._3 else -1L
        val batch = selectBatch(cands, tailBound,
          math.min(batchCap, rounds - learned))
        batch.foreach { case (a, b, n) =>
          learned += 1
          merges += Row(learned, a, b, a + b, n)
        }
        val next = pin(applyMerges(seg, batch.map(p => (p._1, p._2))))
        seg.unpersist()
        seg = next
      }
    }
    seg.unpersist()
    (spark.createDataFrame(
      spark.sparkContext.parallelize(merges.result(), 1), mergesSchema),
      passes)
  }

  /** Apply an ordered merge list (the tokenizer's "encode" side):
    * per document, the whitespace word count and the BPE symbol count
    * after every merge is applied — the number a packing/budgeting
    * step actually wants once a tokenizer exists. One explode + the
    * R-deep replace chain (stateless codegen projections) + one hash
    * aggregate; the merge list is a constant-size driver value (it IS
    * the output of [[learnMerges]]), so nothing data-sized leaves the
    * executors. Past [[maxChainMerges]] the R-deep chain outgrows the
    * planner (measured: R=200 OOMs the driver in plan analysis before
    * codegen even gets a say), so longer lists delegate to
    * [[encodeCounts]] — equivalence of the two paths is pinned by
    * BpeSpec. */
  def segmentCounts(docs: DataFrame, id: Column, text: Column,
                    merges: Seq[(String, String)]): DataFrame = {
    if (merges.length > maxChainMerges)
      return encodeCounts(docs, id, text, merges)
    // Spread.up: the char-split + R-deep replace chain is the CPU
    // kernel here; on a one-file scan it would otherwise run as a
    // single task (guide §2.5). Hash on id — the doc-keyed aggregate
    // below re-shuffles only its map-side partials either way.
    var d = Spread.up(docs
      .select(id.as("id"), explode(TextStats.tokens(text)).as("w"))
      .filter(col("w") =!= ""), col("id"))
      .withColumn("seg",
        concat(lit("  "),
          concat_ws("  ", filter(split(col("w"), ""), s => s =!= "")),
          lit("  ")))
    merges.foreach { case (a, b) =>
      d = d.withColumn("__find", lit(s" $a  $b "))
        .withColumn("__repl", lit(s" $a$b "))
        .withColumn("seg", expr("replace(seg, __find, __repl)"))
    }
    d.groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(trim(col("seg")), "  "))).cast("long")
          .as("n_bpe_tokens"))
  }

  /** Tokenizer-scale encode: same contract as [[segmentCounts]] but
    * with the merge list applied by a rank-map encoder inside
    * `mapPartitions` — per word, repeatedly merge the adjacent pair
    * with the LOWEST merge rank (canonical BPE encode; identical
    * output to applying the list in rank order, pinned by BpeSpec).
    * Cost per word is O(len · pairs-present), independent of R, so a
    * 32k–100k merge vocabulary doesn't build a 32k-deep expression
    * chain (which would abandon whole-stage codegen) or scan each
    * word 32k times. The merge list is a broadcast-sized closure
    * constant — the rare case where `mapPartitions` IS the idiom. */
  def encodeCounts(docs: DataFrame, id: Column, text: Column,
                   merges: Seq[(String, String)]): DataFrame = {
    val rank: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val mergeArr = merges.toIndexedSeq
    // Spread.up: same single-task-scan rationale as [[segmentCounts]]
    // — the rank-pointer encoder is pure per-row CPU.
    val words = Spread.up(docs
      .select(id.as("id"), explode(TextStats.tokens(text)).as("w"))
      .filter(col("w") =!= ""), col("id"))
    val outSchema = StructType(Seq(
      words.schema("id"),
      StructField("n_syms", LongType, nullable = false)))
    words.mapPartitions { it =>
      it.map { r =>
        var syms: Array[String] = r.getString(1).map(_.toString).toArray
        // Faithful to the ordered-once fold of segmentCounts: each
        // merge gets ONE turn, in rank order. The pointer skips
        // absent pairs in O(len) instead of scanning all R merges.
        var lastApplied = -1
        var done = syms.length < 2
        while (!done) {
          // lowest not-yet-turned rank whose pair is present
          var best = Int.MaxValue
          var i = 0
          while (i < syms.length - 1) {
            val rk = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
            if (rk > lastApplied && rk < best) best = rk
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            lastApplied = best
            // merge ALL (leftmost-nonoverlapping) occurrences of the
            // winning pair — the all-occurrences apply step
            val (a, b) = mergeArr(best)
            val out = Array.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            syms = out.result()
            done = syms.length < 2
          }
        }
        Row(r.get(0), syms.length.toLong)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"))
  }
}
