package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  /** Independent in-memory reference: canonical BPE merge learning over
    * a word histogram (segmentations as symbol vectors, argmax by
    * (count desc, lhs asc, rhs asc), apply merges ALL adjacent
    * occurrences left to right). */
  private def referenceMerges(words: Map[String, Long],
                              rounds: Int): Seq[(String, String, Long)] = {
    var segs: Map[Vector[String], Long] =
      words.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = Seq.newBuilder[(String, String, Long)]
    (1 to rounds).foreach { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      segs.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) =>
          (-c, x, y)
        }
        out += ((a, b, n))
        segs = segs.groupMapReduce { case (s, _) =>
          val r = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
              r += a + b; i += 2
            } else { r += s(i); i += 1 }
          }
          r.result()
        }(_._2)(_ + _)
      }
    }
    out.result()
  }

  test("learned merges equal the canonical in-memory reference") {
    // a corpus with repeated stems so merges chain (h+u, hu+g, ...)
    // AND a word with consecutive identical pairs (ababab) so the
    // overlapping-occurrence apply path is exercised
    val docs = Seq(
      "hug hug hug pug pun bun hugs",
      "hug pug pun ababab abab",
      "hugs hug pug bun").toDF("text")
    val got = Bpe.learnMerges(docs, col("text"), rounds = 6)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
    val words = docs.as[String].collect()
      .flatMap(_.split("[ \\t\\n\\r]+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    assert(got == referenceMerges(words, 6),
      s"got $got\nref ${referenceMerges(words, 6)}")
  }

  test("merge application is all-occurrences: 'a b a b' collapses fully") {
    // pinned directly: the double-space delimiter encoding must let
    // leftmost-nonoverlapping replace() merge BOTH (a,b) occurrences
    val seg = Seq("  a  b  a  b  ").toDF("seg")
      .withColumn("__find", lit(" a  b "))
      .withColumn("__repl", lit(" ab "))
      .select(expr("replace(seg, __find, __repl)").as("seg"))
      .as[String].head()
    assert(seg == "  ab  ab  ", s"got '$seg'")
  }

  test("single-character and empty-pair corpora terminate cleanly") {
    val docs = Seq("a b c", "a b").toDF("text")
    // every word is one symbol — no pairs exist, so no merges learned
    val got = Bpe.learnMerges(docs, col("text"), rounds = 3).collect()
    assert(got.isEmpty)
  }

  test("batched learner is bit-identical to one-merge-per-pass on a " +
    "tie-heavy corpus") {
    // shared symbols + count ties force the batch to trim/degenerate —
    // exactly the regime where a naive batcher would diverge
    val docs = Seq(
      "hug hug hug pug pun bun hugs",
      "hug pug pun ababab abab",
      "hugs hug pug bun").toDF("text")
    val batched = Bpe.learnMerges(docs, col("text"), rounds = 6)
      .collect().map(_.toSeq).toSeq
    val oneAtATime = BpeSequential.learnMerges(docs, col("text"), rounds = 6)
      .collect().map(_.toSeq).toSeq
    assert(batched == oneAtATime, s"batched $batched\nseq $oneAtATime")
  }

  test("disjoint distinct-count pairs batch: >=8 merges in <=3 passes, " +
    "identical to the sequential form") {
    // eight two-letter words over disjoint alphabets with strictly
    // decreasing frequencies — all eight merges are mutually disjoint
    // and strictly ordered, so one pass can take them all
    val freqs = Seq("ab" -> 90, "cd" -> 80, "ef" -> 70, "gh" -> 60,
      "ij" -> 50, "kl" -> 40, "mn" -> 30, "op" -> 20)
    val corpus = freqs.flatMap { case (w, f) => Seq.fill(f)(w) }
      .grouped(25).map(_.mkString(" ")).toSeq
    val docs = corpus.toDF("text")
    val (merged, passes) =
      Bpe.learnMergesCounted(docs, col("text"), rounds = 8)
    val batched = merged.collect().map(_.toSeq).toSeq
    val oneAtATime = BpeSequential.learnMerges(docs, col("text"), rounds = 8)
      .collect().map(_.toSeq).toSeq
    assert(batched == oneAtATime, s"batched $batched\nseq $oneAtATime")
    assert(batched.length == 8)
    assert(passes <= 3, s"took $passes passes for 8 disjoint merges")
  }

  test("selectBatch stops at symbol conflicts and trims ties " +
    "(strict-dominance rule)") {
    // head is always kept; 2nd shares no symbols and strictly
    // dominates the first conflict; 3rd ties with the conflict → cut
    val cands = IndexedSeq(
      ("a", "b", 100L),   // accepted
      ("c", "d", 90L),    // accepted (disjoint, 90 > 80)
      ("e", "f", 80L),    // accepted but TIED with the conflict below
      ("a", "x", 80L))    // conflict: shares 'a' → bound = 80
    val got = Bpe.selectBatch(cands, tailBound = -1L, cap = 10)
    assert(got == Seq(("a", "b", 100L), ("c", "d", 90L)), s"got $got")
    // a truncated pool bounds the batch even without visible conflicts
    val got2 = Bpe.selectBatch(
      IndexedSeq(("a", "b", 100L), ("c", "d", 90L)), tailBound = 90L,
      cap = 10)
    assert(got2 == Seq(("a", "b", 100L)), s"got $got2")
    // the cap leaves unconsumed rows, which also bound the batch
    val got3 = Bpe.selectBatch(
      IndexedSeq(("a", "b", 100L), ("c", "d", 100L), ("e", "f", 100L)),
      tailBound = -1L, cap = 2)
    assert(got3 == Seq(("a", "b", 100L)), s"got $got3")
    // a candidate touching an earlier MERGED string is a conflict:
    // merging (a,b) creates new "ab" symbols, changing ("ab", z)'s count
    val got4 = Bpe.selectBatch(
      IndexedSeq(("a", "b", 100L), ("ab", "z", 50L)), tailBound = -1L,
      cap = 10)
    assert(got4 == Seq(("a", "b", 100L)), s"got $got4")
  }

  /** Independent in-memory apply: fold the merge list in order, each
    * merge collapsing ALL leftmost-nonoverlapping occurrences — the
    * segmentCounts contract, re-implemented without Spark. */
  private def referenceCounts(
      docs: Seq[(Long, String)],
      merges: Seq[(String, String)]): Seq[(Long, Long, Long)] =
    docs.map { case (id, text) =>
      val words = text.split("[ \\t\\n\\r]+").filter(_.nonEmpty)
      val total = words.map { w =>
        var syms = w.map(_.toString).toVector
        merges.foreach { case (a, b) =>
          val r = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              r += a + b; i += 2
            } else { r += syms(i); i += 1 }
          }
          syms = r.result()
        }
        syms.length.toLong
      }.sum
      (id, words.length.toLong, total)
    }

  test("tokenizer-scale apply: R=200 merges via the rank-pointer " +
    "encoder, pinned against an in-memory fold; chain==encoder at " +
    "the chain threshold") {
    // a corpus rich enough to learn 200 merges: words of repeated
    // two-char syllables so the symbol tree keeps growing
    val syll = Seq("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo",
      "mu", "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "zu")
    val rng = new scala.util.Random(7)
    val corpus = (0 until 400).map { i =>
      (0 until 12).map { _ =>
        (0 until (1 + rng.nextInt(3))).map(_ =>
          syll(rng.nextInt(syll.length))).mkString
      }.mkString(" ")
    }
    val docsSeq = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = docsSeq.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, col("text"), rounds = 200,
        batchCap = 64)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length >= 150, s"only learned ${merges.length} merges")
    // R=200 > maxChainMerges: segmentCounts delegates to encodeCounts
    val got = Bpe.segmentCounts(docs, col("doc_id"), col("text"), merges)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == referenceCounts(docsSeq, merges),
      "encoder diverged from the in-memory fold at R=200")
    // at exactly the threshold both paths run — pin their equivalence
    val m32 = merges.take(Bpe.maxChainMerges)
    val viaChain = Bpe.segmentCounts(docs, col("doc_id"), col("text"),
        m32).orderBy("id").collect().map(_.toSeq).toSeq
    val viaEncoder = Bpe.encodeCounts(docs, col("doc_id"), col("text"),
        m32).orderBy("id").collect().map(_.toSeq).toSeq
    assert(viaEncoder == viaChain)
  }
}
