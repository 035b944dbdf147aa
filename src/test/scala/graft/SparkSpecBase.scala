package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite via lazy val; the
  * [[GraftSession]] settings every main runs, pinned to 4 cores and 4
  * partitions with a throwaway warehouse.
  *
  * After each suite the shared session's cache is cleared: a frame one
  * suite left cached would serve a later suite's reads and hide their
  * Spark jobs. A suite that never touched Spark starts no session.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit =
    try if (SparkSpecBase.started) SparkSpecBase.session.catalog.clearCache()
    finally super.afterAll()
}

object SparkSpecBase {
  @volatile private var started = false

  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    started = true
    s
  }
}
