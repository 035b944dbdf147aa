package graft

import java.nio.file.Files

/** Scratch roots are reset without following links out of them. */
class ScratchSpec extends SparkSpecBase {

  private def entries(dir: java.nio.file.Path): Long = {
    val listing = Files.list(dir)
    try listing.count() finally listing.close()
  }

  test("resetting a scratch root that holds a symlink to an outside " +
    "directory removes the link and leaves the target's files in place") {
    val base = Files.createTempDirectory("graft_scratch_spec")
    val outside = Files.createDirectories(base.resolve("outside"))
    val kept = Files.writeString(outside.resolve("keep.txt"), "keep")

    val root = Scratch.fresh(spark, "/data/sf0", "links", base.toString)
    assert(root.getFileName.toString ==
      s"graft_links_${spark.sparkContext.applicationId}__data_sf0")
    Files.createSymbolicLink(root.resolve("top_link"), outside)
    val nested = Files.createDirectories(root.resolve("a/b"))
    Files.createSymbolicLink(nested.resolve("nested_link"), outside)
    Files.writeString(nested.resolve("own.txt"), "scratch")

    assert(Scratch.fresh(spark, "/data/sf0", "links", base.toString) == root)
    assert(Files.isDirectory(root))
    assert(entries(root) == 0, "the reset root is empty")
    assert(Files.readString(kept) == "keep", "the link target is untouched")
    assert(entries(outside) == 1)
  }

  test("deleting a path that does not exist is a no-op") {
    val gone = Files.createTempDirectory("graft_scratch_gone")
    Files.delete(gone)
    Scratch.deleteTree(gone.toFile)
    assert(!Files.exists(gone))
  }
}
