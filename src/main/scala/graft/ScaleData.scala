package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the disjoint-content scaled corpora behind BASELINE.md's
  * scale-proof tables — committed so every future scale row is
  * reproducible from the repo (the r7 sf1 builders were session
  * scratch; this main replaces them).
  *
  * Method (the one documented in BASELINE.md): replicate each base
  * table R× into DISJOINT id/content spaces, because replicating
  * verbatim would be the WRONG scale-up — every doc would gain R-1
  * exact copies and pair-generating operators would grow ~R², a
  * property of the synthetic corpus, not the engine. Per table:
  *
  *  - documents: doc_id shifted per replica; every whitespace token
  *    suffixed with the replica index (disjoint doc_id AND token
  *    spaces — vocabulary and postings grow R×, per-term posting
  *    lengths stay constant, exactly how fresh corpus content scales)
  *  - lineitem: l_orderkey / l_partkey / l_suppkey shifted — R
  *    disjoint co-purchase graphs and supplier groups
  *  - events: event_id / user_id shifted — R disjoint per-user series
  *  - embeddings: vec_id shifted; a deterministic per-replica ±1 sign
  *    pattern (xxhash64(replica, element) parity) decorrelates
  *    cross-replica cosines so the near-dup graph is R disjoint
  *    copies, not an R² clique blowup
  *
  * Round 9 widens the builder to the WHOLE test schema so the FULL
  * query battery can run at scale, with FOREIGN KEYS CONSISTENT across
  * replicas: orders (o_orderkey, o_custkey), customer (c_custkey),
  * supplier (s_suppkey) and part (p_partkey) shift by the same stride
  * as lineitem's FK columns, so every replica is a complete,
  * self-consistent TPC-H-ish world and equi-joins stay exactly R×
  * (never R², never dangling). region/nation are FIXED dimensions
  * (25 nations regardless of SF — the TPC-H convention) and copy
  * through verbatim, which keeps c_nationkey/s_nationkey valid.
  *
  * Replica 0 is bit-identical to the base table, so the base corpus is
  * an exact sub-corpus of every scaled one. Id shifts use ONE GLOBAL
  * stride = the next power of 10 above the largest id across every id
  * column of every table scaled in the run (cross-table FK agreement
  * requires a shared stride), keeping replica membership readable
  * (`id div stride` = replica).
  *
  * Usage:
  *   sbt "runMain graft.ScaleData <baseDir> <outDir> <factor> [tables]"
  * e.g.
  *   SPARK_DRIVER_MEM=16g sbt "runMain graft.ScaleData \
  *     /root/testdata/sf0.1 /tmp/graft_sf10 100 documents,lineitem,events"
  * `tables` defaults to the four scale-family tables; pass `all` for
  * the whole schema (the full-battery corpus).
  */
object ScaleData {
  /** id columns per table — the inputs to the global stride. */
  private[graft] val idCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"))

  /** Fixed dimensions: never replicated (their FK targets don't shift). */
  private[graft] val fixedDims = Set("region", "nation")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleData <baseDir> <outDir> <factor> [tables,comma-sep|all]")
    val Array(baseDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val tables: Seq[String] =
      if (args.length > 3 && args(3).trim == "all") Tables.names
      else if (args.length > 3)
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("documents", "lineitem", "events", "embeddings")

    val spark = GraftSession.builder("graft-scale-data").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ONE stride for the whole run: cross-table FKs (l_orderkey ↔
    // o_orderkey, o_custkey ↔ c_custkey, …) only stay consistent when
    // every table shifts by the same amount
    val present = tables.filter(t =>
      new java.io.File(s"$baseDir/$t.parquet").exists())
    val shared = globalStride(spark, baseDir, present)
    present.foreach { t =>
      val base = spark.read.parquet(s"$baseDir/$t.parquet")
      val scaled = scale(t, base, factor, Some(shared))
      // output file count tracks output size (~64-128 MB per file at
      // the SFs this builds), never one giant file
      val mult = if (fixedDims.contains(t)) 1 else factor
      val rows = base.count() * mult
      val outParts = math.max(4, math.min(256, (rows / 500000L).toInt + 4))
      scaled.repartition(outParts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scale] $t: ${rows} rows x$mult -> $outDir/$t.parquet ($outParts files)")
    }
    spark.stop()
  }

  /** Next power of 10 strictly above the largest id among `cols`. */
  private def stride(df: DataFrame, cols: Seq[String]): Long = {
    val maxCols = cols.map(c => max(col(c)))
    val maxId = df
      .agg(if (maxCols.size == 1) maxCols.head
           else greatest(maxCols: _*))
      .head().getLong(0)
    var s = 10L
    while (s <= maxId) s *= 10
    s
  }

  /** The run-wide shared stride: next power of 10 above the largest id
    * across every id column of every (present) table in the run. */
  private[graft] def globalStride(spark: SparkSession, baseDir: String,
                                  tables: Seq[String]): Long =
    tables.flatMap { t =>
      idCols.get(t).map(cs =>
        stride(spark.read.parquet(s"$baseDir/$t.parquet"), cs))
    }.foldLeft(10L)(math.max)

  private[graft] def scale(table: String, base: DataFrame, factor: Int,
                           sharedStride: Option[Long] = None): DataFrame = {
    val replicated = base.withColumn("__r",
      explode(sequence(lit(0L), lit(factor - 1L))))
    def shifted(c: String, str: Long) = (col(c) + col("__r") * str).as(c)
    def tblStride: Long = sharedStride.getOrElse(
      stride(base, idCols.getOrElse(table, Seq.empty)))
    /** All id columns shifted, everything else verbatim, original
      * column order preserved. */
    def shiftIds(ids: Seq[String]): DataFrame = {
      val s = tblStride
      replicated.select(base.columns.toSeq.map(c =>
        if (ids.contains(c)) shifted(c, s) else col(c)): _*)
    }
    table match {
      case t if fixedDims.contains(t) =>
        // fixed dimension (25 nations at every SF — the TPC-H rule):
        // single verbatim copy so unshifted FKs stay valid
        base
      case "orders" | "customer" | "supplier" | "part" =>
        shiftIds(idCols(table))
      case "documents" =>
        val s = tblStride
        // token-suffix only for r>0: replica 0 stays bit-identical
        replicated.select(
          shifted("doc_id", s),
          when(col("__r") === 0, col("text")).otherwise(
            array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("__r"))),
              " ")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      case "lineitem" =>
        val s = tblStride
        replicated.select(
          shifted("l_orderkey", s) +: shifted("l_partkey", s) +:
            shifted("l_suppkey", s) +:
            base.columns.filterNot(Set("l_orderkey", "l_partkey", "l_suppkey"))
              .map(col).toSeq: _*)
      case "events" =>
        val s = tblStride
        replicated.select(
          shifted("event_id", s) +: shifted("user_id", s) +:
            base.columns.filterNot(Set("event_id", "user_id"))
              .map(col).toSeq: _*)
      case "embeddings" =>
        val s = tblStride
        replicated.select(
          shifted("vec_id", s),
          when(col("__r") === 0, col("embedding")).otherwise(
            transform(col("embedding"),
              (x, i) => when(xxhash64(col("__r"), i) % 2 === 0, x)
                .otherwise(-x))).as("embedding"),
          col("label"))
      case other =>
        // id-less or purely dimensional tables replicate verbatim
        // (region/nation etc. are not scale-proof subjects)
        replicated.select(base.columns.map(col).toSeq: _*)
    }
  }
}
