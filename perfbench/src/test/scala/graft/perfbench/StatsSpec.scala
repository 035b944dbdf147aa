package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("p90 is published only with at least ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.quantile(xs, 0.9).isEmpty)
    val ys = (1 to 100).map(_.toDouble)
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.quantile(ys, 0.9).contains(90.0))
    assert(Stats.quantile(scala.util.Random.shuffle(ys), 0.9).contains(90.0))
    // the median needs only ten beyond it
    assert(Stats.quantile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.quantile(Nil, 0.5).isEmpty)
  }

  test("union of overlapping, nested and disjoint job intervals") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0))) == 15.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(Stats.unionLength(Seq((20.0, 25.0), (0.0, 10.0))) == 15.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (10.0, 12.0))) == 12.0)
    assert(Stats.unionLength(Seq((5.0, 5.0), (3.0, 1.0))) == 0.0)
  }

  private val root = Span("root", 0, 100, 0)

  test("self times without children give the whole op to the root") {
    assert(Stats.selfTimes(root, Nil) == Map("root" -> 100.0))
  }

  test("overlapping children of one layer are charged once") {
    val self = Stats.selfTimes(root,
      Seq(Span("exec", 10, 40, 2), Span("exec", 30, 60, 2)))
    assert(self == Map("root" -> 50.0, "exec" -> 50.0))
  }

  test("a child that outlives its parent is charged only inside it") {
    val self = Stats.selfTimes(root,
      Seq(Span("sink", 90, 130, 1), Span("exec", -20, 5, 2)))
    assert(self == Map("root" -> 85.0, "sink" -> 10.0, "exec" -> 5.0))
  }

  test("the deepest active span owns each instant, and self times sum to the wall") {
    val spans = Seq(
      Span("plugin", 0, 80, 2),
      Span("sink", 20, 60, 3),
      Span("exec", 30, 50, 5),
      Span("exec", 45, 70, 5),
      Span("catalyst", 10, 25, 4))
    val self = Stats.selfTimes(root, spans)
    assert(self("exec") == 40.0)      // 30..70
    assert(self("catalyst") == 15.0)  // 10..25
    assert(self("sink") == 5.0)       // 25..30
    assert(self("plugin") == 20.0)    // 0..10 and 70..80
    assert(self("root") == 20.0)      // 80..100
    assert(self.values.sum == 100.0)
  }
}
