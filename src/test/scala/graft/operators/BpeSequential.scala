package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Bpe.{applyMerges, initialSegments, mergesSchema, pairCounts}

/** The original one-merge-per-Spark-job learner, kept as the
  * equivalence reference for BpeSpec (the batched [[Bpe.learnMerges]]
  * must match it bit-for-bit). Do not use at scale. */
object BpeSequential {
  def learnMerges(docs: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val spark = docs.sparkSession
    var seg = initialSegments(docs, text)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[Row]
    (1 to rounds).foreach { r =>
      val top = pairCounts(seg)
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, n) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += Row(r, a, b, a + b, n)
        val next = applyMerges(seg, Seq((a, b)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        seg.unpersist()
        seg = next
      }
    }
    seg.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.result(), 1), mergesSchema)
  }
}
