package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PlanSpec extends AnyFunSuite {
  private val groups = Seq(
    "big" -> (1 to 12).map(i => s"b$i"),
    "mid" -> (1 to 6).map(i => s"m$i"),
    "small" -> Seq("s1", "s2", "s3"))

  test("the same seed gives the same stratified order") {
    assert(Plan.stratifiedOrder(7, groups) == Plan.stratifiedOrder(7, groups))
    assert(Plan.stratifiedOrder(7, groups) == Plan.stratifiedOrder(7, groups.reverse))
    assert(Plan.stratifiedOrder(7, groups) != Plan.stratifiedOrder(8, groups))
  }

  test("the order holds every query once, each group spread in proportion") {
    (1 to 20).foreach { seed =>
      val order = Plan.stratifiedOrder(seed, groups)
      assert(order.sorted == groups.flatMap(_._2).sorted)
      val prefix = order.take(7) // a third of the 21 queries
      def in(g: String) = prefix.count(_.head == g.head)
      assert(math.abs(in("big") - 4) <= 1)
      assert(math.abs(in("mid") - 2) <= 1)
      assert(math.abs(in("small") - 1) <= 1)
    }
  }

  test("the same seed gives the same shuffle") {
    val names = (1 to 18).map(i => s"stream_$i")
    assert(Plan.shuffled(3, names) == Plan.shuffled(3, names.reverse))
    assert(Plan.shuffled(3, names) != Plan.shuffled(4, names))
    assert(Plan.shuffled(3, names).sorted == names.sorted)
  }

  test("the same seed gives the same row permutation and part files") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
      def rows(seed: Long) = Plan.permuted(df, seed, "doc_id", 7)
        .collect().map(_.getLong(0)).toSeq
      assert(rows(1) == rows(1))
      assert(rows(1) != rows(2))
      assert(rows(1).sorted == (0L until 500L))
      assert(Plan.permuted(df, 1, "doc_id", 7).rdd.getNumPartitions == 7)
    } finally spark.stop()
  }
}
