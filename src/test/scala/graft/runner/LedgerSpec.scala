package graft.runner

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** [[Ledger]] presence checks on the directory shapes a Spark write
  * leaves behind. */
class LedgerSpec extends AnyFunSuite {

  private def outDir(files: String*): Path = {
    val dir = Files.createTempDirectory("graft_ledger").resolve("out")
    files.foreach { f =>
      val p = dir.resolve(f)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
    }
    dir
  }

  test("an interrupted Spark write (only _temporary/) is not materialized") {
    val dir = outDir("_temporary/0/part-0.parquet")
    assert(!Ledger.materialized(dir))
    assert(!Ledger.stepSkippable(Map("output_path" -> dir.toString),
      overwrite = false))
  }

  test("a directory holding only a staging leftover (.<name>.part) is " +
    "not materialized") {
    val dir = outDir(".a.csv.part", ".b.csv.part/part-00000.csv")
    assert(!Ledger.materialized(dir))
    assert(Ledger.materialized(outDir(".a.csv.part", "a.csv")))
  }

  test("a committed Spark write (part files + _SUCCESS) is materialized") {
    val dir = outDir("part-00000.parquet", "_SUCCESS")
    assert(Ledger.materialized(dir))
    assert(Ledger.stepSkippable(Map("output_path" -> dir.toString),
      overwrite = false))
  }
}
