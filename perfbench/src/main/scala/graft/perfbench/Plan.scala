package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** Everything the seed decides. The program never sees the seed: it
  * only receives the inputs and the order of requests made from it. */
object Plan {

  /** Query names stratified by group, in seeded order: each group's
    * members are shuffled, then spread evenly over the sequence, so
    * every prefix of the order — a run takes as many ops as fit in its
    * time — samples each group in proportion to its size. */
  def stratifiedOrder(seed: Long,
                      groups: Seq[(String, Seq[String])]): Seq[String] = {
    val rng = new scala.util.Random(seed)
    groups.sortBy(_._1).flatMap { case (_, names) =>
      val shuffled = rng.shuffle(names.sorted)
      val offset = rng.nextDouble()
      shuffled.zipWithIndex.map { case (n, i) =>
        ((i + offset) / shuffled.size, n)
      }
    }.sortBy(_._1).map(_._2)
  }

  /** Seeded order of a fixed list (the stream members). */
  def shuffled(seed: Long, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)

  /** Sort key that permutes rows by seed, stable for a given seed. */
  def permutationKey(seed: Long, idCol: String): Column =
    xxhash64(lit(seed), col(idCol))

  /** `df` rewritten in seeded row order across `files` part files. */
  def permuted(df: DataFrame, seed: Long, idCol: String,
               files: Int): DataFrame =
    df.withColumn("__perm", permutationKey(seed, idCol))
      .repartitionByRange(files, col("__perm"))
      .sortWithinPartitions("__perm")
      .drop("__perm")
}
