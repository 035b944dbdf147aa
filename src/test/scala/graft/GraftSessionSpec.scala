package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Every session the program builds starts from [[GraftSession]]: a
  * second hand-written builder lets the timed plan and the verified plan
  * drift apart (a broadcast threshold set in one copy only). */
class GraftSessionSpec extends SparkSpecBase {

  /** (file, trimmed line) for every line of a .scala file under
    * `roots` that contains `needle`. */
  private def linesWith(needle: String, roots: String*): List[(String, String)] =
    roots.toList.flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => Files.readAllLines(p).asScala
          .filter(_.contains(needle)).map(l => (p.toString, l.trim)))
        .toList
      finally walk.close()
    }

  test("no source file but GraftSession builds a SparkSession itself") {
    // split so this file does not match its own needle
    val needle = "SparkSession.builder" + "("
    val offenders =
      linesWith(needle, "src/main/scala", "src/test/scala").map(_._1).distinct
    assert(offenders == Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("query definitions read no env var") {
    // an env knob inside a query definition makes its plan depend on
    // the caller's shell; a filtered battery passes its scope in
    // (StreamingQueries.scopeDrains)
    assert(linesWith("sys.env", "src/main/scala/graft/queries").isEmpty)
  }

  test("the spec session keeps Spark's broadcast threshold, 4 " +
    "partitions and UTC") {
    val conf = spark.sessionState.conf
    assert(conf.autoBroadcastJoinThreshold == 10L * 1024 * 1024)
    assert(conf.numShufflePartitions == 4)
    assert(conf.sessionLocalTimeZone == "UTC")
  }
}
