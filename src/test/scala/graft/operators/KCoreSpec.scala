package graft.operators

import graft.SparkSpecBase

class KCoreSpec extends SparkSpecBase {
  import spark.implicits._

  // triangle {1,2,3} with a pendant chain 3-4-5: peeling at k=2 must
  // CASCADE — dropping 5 lowers 4's degree below k only in the next
  // round
  private val fixture = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
    (4L, 5L))

  private def run(k: Int, rounds: Int) =
    KCore.peel(fixture.toDF("a", "b"), k, rounds)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Boolean]("in_core")))).toMap

  test("k=2 cascade: pendant chain peels over two rounds, triangle stays") {
    val c = run(k = 2, rounds = 3)
    assert(c.keySet == Set(1L, 2L, 3L))
    assert(c.values.forall { case (deg, in) => deg == 2L && in })
  }

  test("one round is not enough: the flag exposes the unconverged node") {
    val c = run(k = 2, rounds = 1)
    // 5 is gone, but 4 survives round 1 with its degree now below k
    assert(c(4L) == ((1L, false)))
    assert(c(1L)._2 && c(2L)._2 && c(3L)._2)
  }

  test("k above the max degree empties the graph") {
    assert(run(k = 10, rounds = 2).isEmpty)
  }

  test("driver-local peel == distributed peel, including mid-cascade") {
    // hub-skewed pseudo-random graph; compare the default (local) path
    // against localThreshold = 0 (forced distributed) at a k that
    // cascades AND a round count that stops mid-cascade
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Boolean]("in_core")))).toMap
    for (rounds <- Seq(1, 2, 6)) {
      val local = toMap(KCore.peel(edges.toDF("a", "b"), k = 4, rounds))
      val dist = toMap(KCore.peel(edges.toDF("a", "b"), k = 4, rounds,
        localThreshold = 0))
      assert(local == dist, s"rounds=$rounds")
    }
  }

  test("a repeated pair peels once, local and distributed") {
    // raw relational pair-stream shape (repeated co-occurrences): the
    // operator's own dedup must reproduce the clean peel exactly — a
    // duplicate-counted degree would survive a peel it shouldn't
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    val dups = edges.zipWithIndex.flatMap { case (e, i) =>
      Seq.fill(1 + (i % 3))(e)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Boolean]("in_core")))).toMap
    val clean = toMap(KCore.peel(edges.toDF("a", "b"), k = 4, rounds = 6))
    assert(toMap(KCore.peel(dups.toDF("a", "b"), k = 4, rounds = 6)) ==
      clean)
    assert(toMap(KCore.peel(dups.toDF("a", "b"), k = 4, rounds = 6,
      localThreshold = 0)) == clean)
  }

  test("disk-bounded peel (spillDir): identical output, retired " +
      "generations deleted, final generation survives the action") {
    val edges = (0 until 400).map { i =>
      val u = (i * 2654435761L) % 97 % 40
      val v = (i * 40503L + 7) % 89 % 40
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    val dups = edges.zipWithIndex.flatMap { case (e, i) =>
      Seq.fill(1 + (i % 3))(e)
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("deg"), r.getAs[Boolean]("in_core")))).toMap
    val clean = toMap(KCore.peel(edges.toDF("a", "b"), k = 4, rounds = 6))
    val spill = java.nio.file.Files.createTempDirectory("kcore_spec_spill_")
    try {
      val out = KCore.peel(dups.toDF("a", "b"), k = 4, rounds = 6,
        spillDir = Some(spill.toString))
      assert(toMap(out) == clean) // the caller's action, post-retires
      // bounded-scratch contract: retired generations are gone from
      // disk; only the generation(s) the returned frame reads remain
      val gens = Option(spill.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("gen_"))
      assert(gens.nonEmpty, "final generation must survive")
      // 6 rounds at k=4 cascade: >2 pins happened; retirement must
      // have deleted most of them
      assert(gens.length <= 2,
        s"retired generations not deleted: ${gens.map(_.getName).toSeq}")
      // and the result is re-collectable (files truly on disk — a
      // deleted-but-referenced generation would fail here)
      assert(toMap(out) == clean)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(spill.toFile)
    }
  }
}
