package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle counting + local clustering coefficient over an undirected
  * graph (north-star scope: graph-structured corpus/catalog analytics —
  * a node embedded in many closed triads is a hub of a tightly-knit
  * cluster; the coefficient is the classic cohesion score).
  *
  * Scale design — degree-ordered orientation + ADJACENCY INTERSECTION
  * (the compact form of the distributed wedge method, cf. Suri &
  * Vassilvitskii "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11): orient every edge from its lower-(degree, id)
  * endpoint to the higher one, build each node's SORTED out-neighbor
  * array (length O(√m) by orientation even on power-law graphs), and
  * close triangles per oriented edge (u→v) as
  * `array_intersect(N+(u), N+(v))` — every triangle materializes
  * exactly once, at its orientation-minimal edge.
  *
  * Why intersection instead of materializing the wedge table: the
  * wedge set is Σ C(d_out, 2) ROWS — measured 4.1B rows (~2 decades of
  * shuffle spill) on the sf10 co-purchase graph, shuffled TWICE (once
  * into the closure join, once into the per-node aggregate). The
  * adjacency form ships each out-array once per incident edge instead
  * (Σ d_out per side — the EDGE count, not the wedge count), the
  * intersection runs in-task over two bounded sorted arrays, and the
  * per-node aggregate sees 2·|E| endpoint rows plus one row per
  * triangle. Same O(m^{3/2}) work bound, a fraction of the bytes
  * moved. (Measured at sf10: 1256 s → see BASELINE.md.)
  *
  * Shuffle inventory (the whole op, r13 form): degree aggregate, two
  * joins attaching degrees, one groupBy building adjacency arrays
  * (persisted — its two consumers must not recompute the orientation
  * subtree), ONE equi-join attaching the adjacency to the dst side —
  * the src side is not a join at all: `explode(adj)` regenerates
  * every oriented edge with its src out-array already attached — and
  * the final per-node aggregate with map-side partials. All
  * hash-partitioned, no broadcast of anything data-sized, no cross
  * join (pinned in PlanShapeSpec). Hot dst keys in the attach join
  * are AQE skew-split; the arrays they replicate are O(√m) bounded.
  * For graphs whose dst-attach payload (Σ d_out²) exceeds local
  * scratch, `spillDir` runs the same closure as sequential dst
  * hash-band passes with additive partials — the sf100 mode.
  */
object Triangles {

  /** Per-node triangle counts and local clustering coefficient.
    *
    * @param edges canonical undirected edge list: columns (a, b) with
    *              a < b; a repeated pair counts once (the driver-local
    *              ingest drops repeats, the distributed path runs a
    *              `.distinct()` over the probe's cache)
    * @param localThreshold edge count at or below which the census runs
    *              DRIVER-LOCAL on the collected edge list
    *              ([[LocalGraph]]): 2M edges ≈ 32 MB of longs —
    *              broadcast-threshold scale, and below it the six
    *              shuffles of the distributed census (degree agg,
    *              orientation joins, adjacency build + two
    *              O(√m)-array attach joins, closure aggregate) are pure
    *              overhead against an in-memory intersect that the
    *              driver finishes in tenths of a second on all cores.
    *              Identical orientation/intersection algorithm,
    *              bit-identical output (TrianglesSpec pins local ==
    *              distributed). The probe counts the raw pairs, an
    *              upper bound of the edge count. Above the threshold
    *              the distributed census runs unchanged — the 100 TB
    *              path. 0 forces distributed.
    * @return (node, deg, n_tri, clustering_coeff) for every node that
    *         appears in `edges`; coefficient = 2·tri / (deg·(deg−1)),
    *         0.0 for degree-1 nodes — both engines divide the same
    *         exact integers, so the double is identical. */
  def perNode(edges: DataFrame,
              localThreshold: Long = 2000000L,
              spillDir: Option[String] = None,
              chunks: Int = 8): DataFrame = {
    val raw = edges.select(col("a"), col("b"))
    // DISK-BOUNDED mode (the sf100 box-limit answer — the KCore.peel
    // `spillDir` contract): implies the distributed chunked census;
    // the raw pair stream is never cached (dedup lands in the census's
    // own edges pin), the local fast path is skipped — the mode exists
    // for graphs that don't fit the box. The caller owns the
    // directory's lifetime: the degree + partial-count files back the
    // returned DataFrame and must outlive the caller's action.
    spillDir match {
      case Some(dir) =>
        return censusChunked(raw.distinct(), dir, math.max(1, chunks))
      case None => ()
    }
    LocalGraph.probe(raw, localThreshold) match {
      case Left(rows) => localPerNode(raw, rows)
      case Right((e0, _)) =>
        // materialize the deduped cache off the raw one, then release
        // the raw — the big path must not hold two edge-sized caches
        // for the whole census
        val d = e0.distinct().persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        e0.unpersist()
        census(d)
    }
  }

  /** Distributed census over a deduped, persisted edge cache.
    *
    * The src side of the closure join is NOT a join at all: the
    * adjacency table IS the oriented edge list (each out-array entry
    * is exactly one oriented edge), so `explode(adj)` regenerates
    * every edge WITH its src out-array already attached — one whole
    * edge+array-payload shuffle (the old src-attach equi-join)
    * vanishes from the plan. Only the dst attach remains a join.
    *
    * @param spillDir disk-bounded mode (the sf100 box-limit answer —
    *        the same contract as [[KCore.peel]] `spillDir`): the
    *        adjacency table is written ONCE as zstd parquet
    *        hash-partitioned into `chunks` dst-bands, and the closure
    *        join runs as `chunks` sequential band passes — pass i
    *        closes exactly the oriented edges whose dst falls in band
    *        i, writing that band's per-node partial counts to disk;
    *        triangle counts are additive over any edge partition, so
    *        the final result is the summed union of the partials. Live
    *        scratch is bounded by the pinned adjacency parquet plus ONE
    *        band's join shuffle (~1/chunks of the whole closure
    *        shuffle, the thing that ENOSPC'd the one-shot plan at
    *        sf100), with a GC nudge per pass so ContextCleaner
    *        reclaims the finished band's shuffle files. The caller
    *        owns the directory's lifetime: the degree + partial-count
    *        files back the returned DataFrame and must outlive the
    *        caller's action. Identical output (TrianglesSpec pins it).
    * @param chunks number of dst hash-bands in spill mode (ignored
    *        without `spillDir`). */
  private def census(e: DataFrame): DataFrame = {
    val deg = degreesOf(e).persist(StorageLevel.MEMORY_AND_DISK)

    // total order for orientation: (deg, id) — ties broken by id so the
    // order is strict and every edge gets exactly one direction.
    // Single consumer (the adjacency build) — no persist needed.
    val oriented = orient(e, deg)

    // sorted out-adjacency per node: NODE-sized table, arrays O(√m).
    // Consumed twice (explode side + dst side) — PERSISTED, because
    // relying on ReusedExchange for the second consumer is fragile
    // under AQE (measured at sf1/sf10 in the scale-child configs: the
    // un-persisted form re-ran the whole orientation+aggregate subtree
    // for the dst side — 20 → 57 s at sf1, 377 → 687 s at sf10; the
    // persist restores the single computation the old oriented-persist
    // plan had, while keeping the src-attach join removed).
    val adj = oriented.groupBy(col("src").as("n"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    deg.join(closures(explodedAdj(adj), adj), Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("deg"),
        coalesce(col("n_tri"), lit(0L)).cast("long").as("n_tri"))
      .withColumn("clustering_coeff", coeff)
  }

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Orientation: every undirected edge directed from its lower-
    * (deg, id) endpoint to the higher one. */
  private def orient(e: DataFrame, deg: DataFrame): DataFrame = e
    .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
    .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
    .select(when(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("d")))
      .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("o"))
    .select(col("o.s").as("src"), col("o.d").as("dst"))

  /** Oriented edges with the src out-array attached, regenerated by
    * exploding the adjacency table (each array entry IS one oriented
    * edge) — columns (src, __nu, dst). */
  private def explodedAdj(adj: DataFrame): DataFrame =
    adj.select(col("n").as("src"), col("nbrs").as("__nu"),
      explode(col("nbrs")).as("dst"))

  /** Per-node triangle (partial) counts: attach the dst out-array to
    * each (src, __nu, dst) oriented-edge row by equi-join, close per
    * edge as the sorted-array intersection, attribute each triangle to
    * its three corners (u and v gain |C|, every closing w gains 1).
    * Inner join is exact: an edge whose dst has no out-array closes
    * nothing. */
  private def closures(withSrc: DataFrame, adjRight: DataFrame): DataFrame = {
    val perEdge = withSrc
      .join(adjRight.select(col("n").as("dst"), col("nbrs").as("__nv")),
        "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("__nu"), col("__nv")).as("__c"))
      .filter(size(col("__c")) > 0)
    perEdge
      .select(explode(concat(
        array(struct(col("src").as("node"), size(col("__c")).cast("long").as("cnt")),
          struct(col("dst").as("node"), size(col("__c")).cast("long").as("cnt"))),
        transform(col("__c"),
          w => struct(w.as("node"), lit(1L).as("cnt"))))).as("x"))
      .groupBy(col("x.node").as("node")).agg(sum(col("x.cnt")).as("n_tri"))
  }

  private def coeff: Column =
    when(col("deg") >= 2,
      (col("n_tri") * 2).cast("double") /
        (col("deg") * (col("deg") - 1)).cast("double"))
      .otherwise(lit(0.0))

  /** Disk-bounded chunked census — see `census` scaladoc. Owns the
    * whole disk lifecycle: pins the (already deduped, uncached) edge
    * plan to parquet first, derives degree + banded adjacency pins
    * from it, deletes each pin the moment nothing references it.
    * NOTHING stays in the block manager — the sf100 contract is that
    * heap and scratch are not consumed by the same operator at once. */
  private def censusChunked(eRaw: DataFrame, dir: String,
                            chunks: Int): DataFrame = {
    val spark = eRaw.sparkSession
    val root = new java.io.File(dir)
    root.mkdirs()
    def rm(name: String): Unit =
      graft.Scratch.deleteTree(new java.io.File(root, name))
    def pin(df: DataFrame, name: String,
            partitionCols: Seq[String] = Nil): DataFrame = {
      val d = new java.io.File(root, name)
      val w = df.write.mode("overwrite").option("compression", "zstd")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(d.getPath)
      spark.read.parquet(d.getPath)
    }
    // the (possibly expensive) edge plan materializes exactly once, to
    // disk; degrees and adjacency both derive from the flat file scan
    val e = pin(eRaw, "edges")
    // degree table: node-sized, read by the orientation and the final
    // join — pinned so neither re-aggregates the edge plan
    val deg = pin(degreesOf(e), "deg")
    // adjacency, hash-banded by node id and PARTITIONED on the band:
    // pass i's dst-side read is a partition-pruned scan of band i only
    val adj = pin(
      orient(e, deg).groupBy(col("src").as("n"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
        .withColumn("__band", pmod(xxhash64(col("n")), lit(chunks))),
      "adj", Seq("__band"))
    rm("edges") // deg + adj hold everything the passes need
    System.gc()
    (0 until chunks).foreach { i =>
      // src side: ALL oriented edges whose dst lands in band i. The
      // band predicate applies to the EXPLODED value, so every pass
      // scans the whole adjacency pin — CPU-cheap; the array is
      // filtered BEFORE the explode (HOF filter) so only band-i rows
      // are ever generated, and the shuffle this side feeds is the
      // 1/chunks slice that makes the pass fit the box.
      val withSrc = adj.select(col("n").as("src"), col("nbrs").as("__nu"),
        explode(filter(col("nbrs"),
          d => pmod(xxhash64(d), lit(chunks)) === lit(i))).as("dst"))
      // shuffle-hash: sort-merge would sort the src-array payload —
      // the one column that makes this join's rows wide
      val partial = closures(withSrc,
        adj.filter(col("__band") === i).hint("shuffle_hash"))
      partial.write.mode("overwrite").option("compression", "zstd")
        .parquet(new java.io.File(root, f"tri_$i%04d").getPath)
      // the finished band's shuffle files are dead the moment its
      // partial is on disk — nudge the driver GC so ContextCleaner
      // reclaims them before the next band piles on (the KCore.peel
      // disk-bounded contract; on a big heap the JVM may otherwise
      // not GC for the whole census)
      System.gc()
    }
    // the adjacency pin is dead once every band's partial is on disk
    rm("adj")
    val partials = spark.read.parquet(
      (0 until chunks).map(i =>
        new java.io.File(root, f"tri_$i%04d").getPath): _*)
    val triCounts = partials.groupBy("node").agg(sum("n_tri").as("n_tri"))
    deg.join(triCounts, Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("deg"),
        coalesce(col("n_tri"), lit(0L)).cast("long").as("n_tri"))
      .withColumn("clustering_coeff", coeff)
  }

  /** Driver-local census over the collected (bounded — see
    * `localThreshold`) edge rows, deduped by [[LocalGraph.dense]]: the
    * SAME degree-ordered orientation + sorted-adjacency intersection,
    * on dense-remapped ids in flat arrays, closure counting chunked
    * across all cores. Semantics
    * identical to the distributed census (orientation by (deg, id)
    * with the id's natural order — the census is order-insensitive
    * beyond needing SOME strict total order, and the per-node counts
    * are exact integers either way). */
  private def localPerNode(e: DataFrame, rows: Array[Row]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
      StructType}
    val LocalGraph.Dense(ids, ea, eb, m, deg) = LocalGraph.dense(rows)
    val n = ids.length
    // strict total order for orientation: (deg, id natural order)
    def less(u: Int, v: Int): Boolean =
      deg(u) < deg(v) || (deg(u) == deg(v) &&
        ids(u).asInstanceOf[Comparable[Any]].compareTo(ids(v)) < 0)
    // CSR out-adjacency, runs sorted by dense id (both intersect sides
    // sort by the same key, so the merge is exact)
    val outDeg = new Array[Int](n)
    val esrc = new Array[Int](m)
    val edst = new Array[Int](m)
    var i = 0
    while (i < m) {
      val s = if (less(ea(i), eb(i))) ea(i) else eb(i)
      val d = if (s == ea(i)) eb(i) else ea(i)
      esrc(i) = s; edst(i) = d; outDeg(s) += 1; i += 1
    }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(start, n)
    i = 0
    while (i < m) { adj(fill(esrc(i))) = edst(i); fill(esrc(i)) += 1; i += 1 }
    var v = 0
    while (v < n) { java.util.Arrays.sort(adj, start(v), start(v + 1)); v += 1 }
    // closure count, chunked over edges, one thread-local accumulator
    // per chunk (no atomics), merged below
    val cores = math.max(1, Runtime.getRuntime.availableProcessors)
    val chunks = java.util.stream.IntStream.range(0, cores).parallel()
      .mapToObj[Array[Long]] { p =>
        val local = new Array[Long](n)
        var j = (p.toLong * m / cores).toInt
        val hi = ((p + 1).toLong * m / cores).toInt
        while (j < hi) {
          val s = esrc(j)
          val d = edst(j)
          var pu = start(s)
          var pv = start(d)
          val eu = start(s + 1)
          val ev = start(d + 1)
          var c = 0L
          while (pu < eu && pv < ev) {
            val wu = adj(pu)
            val wv = adj(pv)
            if (wu == wv) { local(wu) += 1; c += 1; pu += 1; pv += 1 }
            else if (wu < wv) pu += 1
            else pv += 1
          }
          local(s) += c; local(d) += c
          j += 1
        }
        local
      }
      // merge SEQUENTIALLY — a parallel reduce with a mutable identity
      // array would hand the same array to several threads at once
      .collect(java.util.stream.Collectors.toList[Array[Long]])
    val tri = new Array[Long](n)
    chunks.forEach { c =>
      var k = 0
      while (k < n) { tri(k) += c(k); k += 1 }
    }
    val out = new java.util.ArrayList[Row](n)
    v = 0
    while (v < n) {
      val cc = if (deg(v) >= 2)
        (tri(v) * 2).toDouble / (deg(v) * (deg(v) - 1)).toDouble
      else 0.0
      out.add(Row(ids(v), deg(v), tri(v), cc))
      v += 1
    }
    e.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("node", e.schema("a").dataType),
      StructField("deg", LongType), StructField("n_tri", LongType),
      StructField("clustering_coeff", DoubleType))))
  }
}
