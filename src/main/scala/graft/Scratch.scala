package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Scratch directories: the per-application, per-dataset roots that
  * queries write their intermediate stores into, and the one recursive
  * delete the engine uses on them. */
object Scratch {

  /** Delete `f` and, when it is a real directory, everything under it.
    * A symbolic link is removed itself and never followed, so a link to
    * an outside directory leaves that directory's files in place. A
    * directory that cannot be listed (`listFiles` returns null: it
    * vanished or is unreadable) is skipped instead of failing. */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run `body` on a new directory under `java.io.tmpdir`, deleted
    * afterwards whatever `body` does. */
  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally deleteTree(dir.toFile)
  }

  /** `<base>/graft_<tag>_<appId>_<dir, sanitized>`. The application id
    * keeps concurrent JVMs on one dataset apart (one process's reset
    * must not race another's read), and the dir keeps datasets apart
    * on one session. */
  def root(spark: SparkSession, dir: String, tag: String,
           base: String = sys.props("java.io.tmpdir")): Path =
    Paths.get(base, s"graft_${tag}_${spark.sparkContext.applicationId}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_"))

  /** [[root]], emptied of what an earlier invocation left and created. */
  def fresh(spark: SparkSession, dir: String, tag: String,
            base: String = sys.props("java.io.tmpdir")): Path = {
    val r = root(spark, dir, tag, base)
    deleteTree(r.toFile)
    Files.createDirectories(r)
  }
}
