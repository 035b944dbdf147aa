package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every session the program builds starts from [[GraftSession]]: a
  * second hand-written builder lets the timed plan and the verified plan
  * drift apart (a broadcast threshold set in one copy only). */
class GraftSessionSpec extends SparkSpecBase {

  test("no source file but GraftSession builds a SparkSession itself") {
    // split so this file does not match its own needle
    val needle = "SparkSession.builder" + "("
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(offenders == Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("the spec session keeps Spark's broadcast threshold, 4 " +
    "partitions and UTC") {
    val conf = spark.sessionState.conf
    assert(conf.autoBroadcastJoinThreshold == 10L * 1024 * 1024)
    assert(conf.numShufflePartitions == 4)
    assert(conf.sessionLocalTimeZone == "UTC")
  }
}
