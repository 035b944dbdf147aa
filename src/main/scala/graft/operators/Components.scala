package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the step a real
  * dedup pipeline runs AFTER pair generation: near-dup pairs are edges,
  * a component is one duplicate cluster, and `component` (the minimum
  * member id, a deterministic canonical label) picks the keeper.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labelled with its own id; each round takes the min of its own and its
  * neighbours' labels; fixpoint = every vertex carries its component's
  * minimum id. Converges in O(component diameter) rounds — near-dup
  * graphs are clique-ish, so 2–4 rounds in practice.
  *
  * Scale shape: each round is one shuffle equi-join (edges × labels,
  * both partitioned by vertex) plus one aggregate — no driver-side
  * graph, no broadcast of anything corpus-sized. Convergence is detected
  * by the label-sum (strictly decreasing until fixpoint), one tiny agg
  * per round. This is the standard large-graph CC recipe (alternating
  * small/large-star joins degenerate to exactly this on undirected
  * min-propagation).
  */
object Components {

  /** @param edges undirected edges (aCol, bCol); vertices not present in
    *   any edge are absent from the output (no self-components).
    * @param checkpointDir when set, per-round lineage truncation uses
    *   RELIABLE `checkpoint()` against this directory instead of
    *   `localCheckpoint` — local checkpoint blocks die with their
    *   executor, so on a real cluster a single executor loss mid-loop
    *   kills the whole job; reliable checkpoints survive it. Local[?]
    *   and tests can leave it None (no executor to lose).
    * @param localThreshold edge-count cutoff for the driver-local
    *   fast path ([[LocalGraph]], probed on the symmetric adjacency at
    *   two rows per edge): at or below it the component fixpoint is
    *   solved with in-memory union-find instead of the iterative join
    *   loop. This is NOT a correctness shortcut but the right hybrid
    *   at every scale — after strong-threshold pair pruning the
    *   duplicate graph is orders of magnitude smaller than the corpus,
    *   and when it fits comfortably on the driver (200k edges ≈ a few
    *   MB) the loop's per-round cluster sync is pure overhead. Above
    *   the threshold the distributed loop runs unchanged (the 100 TB
    *   path). Set 0 to force the distributed loop.
    * @return (id, component) — component = min id reachable.
    * @throws IllegalStateException if the label propagation has not
    *   reached its fixpoint after `maxIters` rounds (components with
    *   diameter > 3·maxIters) — never silently returns wrong labels. */
  def connected(edges: DataFrame, aCol: String, bCol: String,
                maxIters: Int = 30,
                checkpointDir: Option[String] = None,
                localThreshold: Long = 200000): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    // symmetric adjacency in ONE scan of the (possibly expensive) edge
    // plan: explode each edge into both orientations — a union of two
    // selects would evaluate the pair-generation plan twice. The probe
    // caches it (needed by every path) and sizes the graph for the
    // local/distributed choice.
    val both = edges.select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val (sym, symCount) = LocalGraph.probe(both, 2 * localThreshold) match {
      case Left(rows) => return localUnionFind(both, rows)
      case Right(big) => big
    }
    // Partitions track data (the repo-wide shuffle doctrine, applied
    // with the measured count): after strong-threshold pair pruning the
    // duplicate graph is typically orders of magnitude smaller than the
    // corpus, and driving a 256-edge loop through 32-wide map stages is
    // pure scheduling overhead (measured ~40% of the loop at sf0.1).
    // coalesce — narrow, reads the persisted blocks — so every loop
    // stage sizes to the graph; above ~500k rows/partition the
    // adjacency keeps its width (the 100 TB path unchanged).
    val loopParts = math.max(1L, math.min(
      sym.rdd.getNumPartitions.toLong, symCount / 500000L)).toInt
    val symLoop =
      if (loopParts < sym.rdd.getNumPartitions) sym.coalesce(loopParts)
      else sym
    // CRITICAL for any iterative DataFrame loop: `step` references the
    // previous labels TWICE (join side + union side), so the logical
    // plan would QUADRUPLE per round — persist() caches execution but
    // does not truncate the logical tree, and analysis time / driver
    // heap blow up exponentially (measured: round3 53 s then OOM).
    // Checkpointing materializes the round AND replaces the lineage
    // with a flat LogicalRDD — constant-size plans, constant per-round
    // cost. `checkpointDir` selects reliable checkpoint() when executor
    // loss must be survivable (cluster scale); default localCheckpoint
    // is cheaper and fine for local mode.
    var labels = symLoop.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one propagation = min over self ∪ neighbours, as ONE join + ONE
    // aggregate (a join-back formulation costs a third shuffle); THREE
    // propagations run between driver syncs, and the LAST one carries
    // the previous label through the same aggregate (`old` = the self
    // row's label; every id has exactly one self row) so the round's
    // one action counts changed labels directly — a round with zero
    // changes IS the fixpoint proof (min-propagation is deterministic),
    // eliminating the old equal-checksum CONFIRMATION round. Near-dup
    // graphs converge in 2–4 propagations, so most runs pay exactly one
    // driver sync.
    def step(l: DataFrame): DataFrame =
      symLoop.join(l.select(col("id").as("v"), col("comp")), "v")
        .select(col("u").as("id"), col("comp"))
        .union(l.select(col("id"), col("comp")))
        .groupBy("id").agg(min("comp").as("comp"))
    def stepDetect(l: DataFrame): DataFrame =
      symLoop.join(l.select(col("id").as("v"), col("comp")), "v")
        .select(col("u").as("id"), col("comp"),
          lit(null).cast(l.schema("comp").dataType).as("old"))
        .union(l.select(col("id"), col("comp"), col("comp").as("old")))
        .groupBy("id").agg(min("comp").as("comp"), max("old").as("old"))
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // lazy checkpoint: the change-count action below materializes it,
      // so each round costs exactly ONE pipeline execution. Reliable
      // mode additionally persists the round for the duration of that
      // action: ReliableRDDCheckpointData RECOMPUTES the RDD when
      // writing its files unless the blocks are cached — without the
      // scratch persist every round would run twice on the very mode
      // built for cluster scale.
      val stepped = stepDetect(step(step(labels)))
      val next =
        if (checkpointDir.isDefined) {
          stepped.persist(StorageLevel.MEMORY_AND_DISK)
          stepped.checkpoint(false)
        } else stepped.localCheckpoint(false)
      val changed = next.agg(
        sum(when(col("comp") < col("old"), 1L).otherwise(0L)).as("n"))
        .head().getLong(0)
      if (checkpointDir.isDefined) stepped.unpersist()
      // drop the previous round's cached blocks (and, in reliable mode,
      // its checkpoint files — superseded rounds are never read again)
      // eagerly; ContextCleaner would not reclaim checkpoint files at
      // all by default (spark.cleaner.referenceTracking.cleanCheckpoints
      // is off), so this bounds checkpoint-dir growth to one round
      unpersistLabels(labels)
      labels = next
      done = changed == 0L // zero label decreases = fixpoint
      iter += 1
    }
    sym.unpersist()
    // never hand back non-converged labels: a chain-shaped component
    // longer than 3·maxIters would otherwise silently split into wrong
    // components — fail loudly instead (raise maxIters for such graphs)
    if (!done)
      throw new IllegalStateException(
        s"Components.connected: no fixpoint after $maxIters rounds " +
          s"(${3 * maxIters} propagations); raise maxIters")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Driver-local union-find over the collected (bounded — see
    * `localThreshold`) symmetric edge rows, on the dense ids of
    * [[LocalGraph.dense]]: path-halving find, then every vertex gets
    * its component's minimum id — identical semantics to the
    * distributed fixpoint, minus its per-round cluster syncs. */
  private def localUnionFind(e: DataFrame, rows: Array[Row]): DataFrame = {
    val g = LocalGraph.dense(rows)
    val n = g.ids.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) {
        parent(r) = parent(parent(r)) // path halving
        r = parent(r)
      }
      r
    }
    var j = 0
    while (j < g.m) {
      val (ru, rv) = (find(g.ea(j)), find(g.eb(j)))
      if (ru != rv) parent(ru) = rv
      j += 1
    }
    def lt(a: Int, b: Int): Boolean =
      g.ids(a).asInstanceOf[Comparable[Any]].compareTo(g.ids(b)) < 0
    val minOf = Array.fill(n)(-1)
    (0 until n).foreach { v =>
      val r = find(v)
      if (minOf(r) < 0 || lt(v, minOf(r))) minOf(r) = v
    }
    val out = new java.util.ArrayList[Row](n)
    (0 until n).foreach(v => out.add(Row(g.ids(v), g.ids(minOf(find(v))))))
    val idType = e.schema("u").dataType
    e.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("id", idType), StructField("component", idType))))
  }

  /** Release a superseded round's cached blocks: a localCheckpoint'ed
    * DataFrame caches via its backing RDD (not the CacheManager), so the
    * RDD is unpersisted directly; a plain persisted DF (round 0's
    * labels) goes through unpersist(). */
  private def unpersistLabels(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
        // a reliably-checkpointed round also owns files in the
        // checkpoint dir; delete them once superseded (the newest
        // round's files never reference an older round's)
        l.rdd.getCheckpointFile.foreach { f =>
          try {
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case _: Exception => () } // best-effort cleanup
        }
      case _ => df.unpersist()
    }

  /** Convenience: duplicate clusters with sizes and the keeper id. */
  def clusters(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    connected(edges, aCol, bCol)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("keeper"))

  /** Per-member soft-dedup sampling weight: `1/|cluster|` for every
    * document, `1.0` for documents outside any duplicate cluster — the
    * mixture-correct ALTERNATIVE to dropping non-keepers. Sampling the
    * corpus by these weights makes each distinct work contribute
    * equally to the training mix regardless of how many near-copies
    * the crawl picked up, without discarding the copies outright (they
    * still serve as augmentation when the budget allows). The cluster
    * membership/size relation is component-sized — tiny next to the
    * corpus — and joins back on the id key (AQE broadcasts it when
    * small); the weight itself is one exact-integer reciprocal, so the
    * column is bit-stable across engines and partitionings.
    *
    * Output: (id, cluster_size, weight). */
  def memberWeights(docs: DataFrame, idCol: String, edges: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    val comp = connected(edges, aCol, bCol)
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    val member = comp.join(sizes, "component")
      .select(col("id"), col("cluster_size"))
    docs.select(col(idCol).as("id"))
      .join(member, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"))
          .as("weight"))
  }

  /** Quality-aware keeper selection: per duplicate cluster, keep the
    * member with the HIGHEST score (ties broken by min id) instead of
    * [[clusters]]' min-id convention — a near-dup cluster usually holds
    * one clean original plus truncated/boilerplated copies, and a real
    * corpus clean wants the best one, not the numerically first.
    *
    * `scores` is (idCol, scoreCol), e.g. token counts or a quality
    * battery output. One hash join on member id (components are tiny
    * relative to the corpus) + one window keyed by component — the same
    * shuffle shape as [[clusters]]. */
  def bestKeepers(edges: DataFrame, aCol: String, bCol: String,
                  scores: DataFrame, idCol: String,
                  scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    val ranked = connected(edges, aCol, bCol)
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("__s")),
        "id")
      .withColumn("__rn", row_number().over(
        w.orderBy(col("__s").desc, col("id"))))
      .withColumn("n_members", count(lit(1)).over(w))
    ranked.filter(col("__rn") === 1)
      .select(col("component"), col("n_members"),
        col("id").as("keeper"), col("__s").as("keeper_score"))
  }
}
