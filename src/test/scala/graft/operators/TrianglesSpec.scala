package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class TrianglesSpec extends SparkSpecBase {
  import spark.implicits._

  private def census(edges: Seq[(Long, Long)]) =
    Triangles.perNode(edges.toDF("a", "b"))
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("clustering_coeff")))).toMap

  test("K4: every node in C(3,2)=3 triangles, coefficient 1.0") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val c = census(k4)
    assert(c.keySet == Set(0L, 1L, 2L, 3L))
    c.values.foreach { case (deg, tri, cc) =>
      assert(deg == 3L && tri == 3L && cc == 1.0)
    }
  }

  test("triangle with a pendant: counts and coefficients per node") {
    // 0-1-2 closed, 3 hangs off 2: node 2 has deg 3 but only the one
    // closed triad → cc = 2·1/(3·2) = 1/3; pendant 3 has deg 1 → cc 0.0
    val c = census(Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)))
    assert(c(0L) == ((2L, 1L, 1.0)))
    assert(c(1L) == ((2L, 1L, 1.0)))
    assert(c(2L) == ((3L, 1L, 1.0 / 3.0)))
    assert(c(3L) == ((1L, 0L, 0.0)))
  }

  test("path graph has zero triangles everywhere") {
    val c = census(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    assert(c.values.forall(_._2 == 0L))
  }

  test("a repeated pair closes once, local and distributed") {
    // K4 with every edge repeated 1-3 times — the raw relational pair
    // stream shape (coPurchaseEdges): the census's own dedup must
    // reproduce the clean census bit-for-bit on BOTH paths
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val dups = k4.zipWithIndex.flatMap { case (e, i) =>
      Seq.fill(1 + (i % 3))(e)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("clustering_coeff")))).toMap
    val clean = toMap(Triangles.perNode(k4.toDF("a", "b")))
    assert(toMap(Triangles.perNode(dups.toDF("a", "b"))) == clean)
    assert(toMap(Triangles.perNode(dups.toDF("a", "b"),
      localThreshold = 0)) == clean)
  }

  test("orientation census equals the naive 3-way join on a random graph") {
    // deterministic pseudo-random graph with hubs (hash-derived edges,
    // skewed toward low ids) — the naive oracle joins the canonical
    // edge set three ways, exactly the DuckDB oracle's shape
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    val e = edges.toDF("a", "b")
    val naive = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") &&
        col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_tri"))
      .toMap
    val fast = census(edges)
    fast.foreach { case (node, (_, tri, _)) =>
      assert(tri == naive.getOrElse(node, 0L),
        s"node $node: oriented $tri vs naive ${naive.getOrElse(node, 0L)}")
    }
  }

  test("disk-bounded chunked census == default census, bit-exact") {
    // hub-skewed pseudo-random graph, duplicated pair stream (the
    // coPurchaseEdges shape) — the spillDir mode must reproduce the
    // default census to the last double through its banded passes,
    // including bands that close zero triangles
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("clustering_coeff")))).toMap
    val default = toMap(Triangles.perNode(edges.toDF("a", "b")))
    val dir = java.nio.file.Files.createTempDirectory("tri_spill_")
    try {
      val chunked = toMap(Triangles.perNode(edges.toDF("a", "b"),
        spillDir = Some(dir.toString), chunks = 3))
      assert(chunked == default)
      // ...and a single-band run (the degenerate chunking) agrees too
      val one = toMap(Triangles.perNode(edges.toDF("a", "b"),
        spillDir = Some(dir.toString), chunks = 1))
      assert(one == default)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("driver-local census == distributed census, bit-exact") {
    // same hub-skewed pseudo-random graph; default threshold takes the
    // local path, localThreshold = 0 forces the distributed one — the
    // outputs must agree to the last double
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("n_tri"),
          r.getAs[Double]("clustering_coeff")))).toMap
    val local = toMap(Triangles.perNode(edges.toDF("a", "b")))
    val dist = toMap(Triangles.perNode(edges.toDF("a", "b"),
      localThreshold = 0))
    assert(local == dist)
  }
}
