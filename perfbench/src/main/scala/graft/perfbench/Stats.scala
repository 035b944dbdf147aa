package graft.perfbench

/** The benchmark's arithmetic: order statistics over op latencies and
  * the span bookkeeping that splits one op's wall time across layers.
  * Pure functions, so the tests can pin every rule down. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank q-quantile of n samples. */
  def samplesBeyond(n: Int, q: Double): Int =
    n - math.ceil(q * n - 1e-9).toInt

  /** Nearest-rank quantile, published only when at least `minBeyond`
    * samples lie beyond it — a p90 read off 20 samples is two points. */
  def quantile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty || samplesBeyond(xs.size, q) < minBeyond) None
    else {
      val s = xs.sorted
      Some(s(math.max(0, math.ceil(q * s.size - 1e-9).toInt - 1)))
    }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** A timed interval of one layer. `depth` orders nesting: where
    * spans overlap, the deepest one owns the time. */
  final case class Span(layer: String, start: Double, end: Double, depth: Int)

  /** Split the root span's duration into exclusive per-layer self
    * times: every instant of the root belongs to the deepest span
    * active at that instant (the root itself when none is). Children
    * are clipped to the root, so a child that outlives its parent is
    * charged only for the overlap, and overlapping siblings of one
    * layer are charged once. The values sum to the root's duration. */
  def selfTimes(root: Span, spans: Seq[Span]): Map[String, Double] = {
    val clipped = spans.flatMap { s =>
      val a = math.max(s.start, root.start)
      val b = math.min(s.end, root.end)
      if (b > a) Some(s.copy(start = a, end = b)) else None
    }
    val cuts = (clipped.flatMap(s => Seq(s.start, s.end)) ++
      Seq(root.start, root.end)).distinct.sorted
    val out = scala.collection.mutable.LinkedHashMap[String, Double](
      root.layer -> 0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val owner = clipped.filter(s => s.start <= a && s.end >= b)
          .sortBy(-_.depth).headOption.getOrElse(root)
        out(owner.layer) = out.getOrElse(owner.layer, 0.0) + (b - a)
      case _ => ()
    }
    out.toMap
  }
}
