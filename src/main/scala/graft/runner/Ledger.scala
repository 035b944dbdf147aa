package graft.runner

import java.net.{URI, URLConnection}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Materialization ledger (SURVEY §4): the engine-level form of the
  * reference's skip-if-exists idiom — `overwrite: false` on nearly every
  * step (e.g. /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:22,
  * pipelines/prism/stage-ts-ppt-day-mi-rollsum-14d.yml:31) gives
  * coarse-grained memoization / incremental re-runs across runs.
  *
  * Checks are O(listing), never O(data): existence (+ non-emptiness for
  * directories) only. Content-hash validation is deliberately absent —
  * the reference trusts presence, and at 100 TB so must we.
  *
  * Presence only means "finished" if nothing appears before it is
  * whole, so every file a plugin writes outside a Spark directory write
  * goes through [[commit]] (or [[commitSingleFile]] for a one-file
  * Spark output): the bytes land in a hidden `.<name>.part` sibling
  * that is renamed into place only once the write returns.
  */
object Ledger {

  /** Should this output be (re)produced? false ⇒ skip, it's materialized. */
  def shouldWrite(output: Path, overwrite: Boolean): Boolean =
    overwrite || !materialized(output)

  def materialized(output: Path): Boolean =
    Files.exists(output) && (!Files.isDirectory(output) || nonEmptyDir(output))

  /** A Spark write killed mid-job leaves only its `_temporary/`
    * staging dir in the output directory, and a [[commit]] killed
    * mid-write (the JVM gone before its clean-up ran) leaves its
    * `.<name>.part`; neither is output, so such a directory re-runs
    * (every plugin writes with mode("overwrite")). */
  private def nonEmptyDir(dir: Path): Boolean = {
    val s = Files.list(dir)
    try s.anyMatch { p =>
      val n = p.getFileName.toString
      n != "_temporary" && !(n.startsWith(".") && n.endsWith(".part"))
    } finally s.close()
  }

  /** Run `body` on `target`'s hidden `.<name>.part` sibling, created
    * in `target`'s directory and removed (file or tree) before and
    * after, whatever `body` does. */
  private def staged[A](target: Path)(body: Path => A): A = {
    val part =
      target.resolveSibling("." + target.getFileName.toString + ".part")
    Option(part.getParent).foreach(Files.createDirectories(_))
    graft.Scratch.deleteTree(part.toFile)
    try body(part) finally graft.Scratch.deleteTree(part.toFile)
  }

  /** Write the file `target` all or nothing: `write` fills the hidden
    * `.<name>.part` sibling (absent when it is called), which is
    * renamed onto `target` with `ATOMIC_MOVE` once `write` returns. A
    * write that throws or is cut off leaves `target` as it was: absent,
    * so [[shouldWrite]] runs it again, or with its previous bytes. */
  def commit(target: Path)(write: Path => Unit): Unit =
    staged(target) { part =>
      write(part)
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    }

  /** [[commit]] for a Spark write of one partition (`coalesce(1)`):
    * `write` gets the hidden `.<name>.part` sibling as its output
    * directory, whose lone `part-` file becomes `target`; the directory
    * is deleted afterwards. */
  def commitSingleFile(target: Path)(write: String => Unit): Unit =
    staged(target) { dir =>
      write(dir.toString)
      val s = Files.list(dir)
      val part = try s.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file in $dir"))
      finally s.close()
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    }

  /** Copy `url`'s bytes to `to`, a [[commit]] body: a `file://` URL is
    * copied, any other opens a connection with `timeoutMs` connect and
    * read timeouts (a hung data channel fails the step, not the run's
    * wall clock). */
  def fetch(url: String, to: Path, timeoutMs: Int): Unit = {
    val uri = URI.create(url)
    if (uri.getScheme == "file") Files.copy(Paths.get(uri), to)
    else {
      val conn = uri.toURL.openConnection()
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      fetchBody(conn, to)
    }
  }

  /** Copy an opened connection's body to `to`, failing when the byte
    * count differs from the promised `Content-Length`: the JDK HTTP
    * client ends a fixed-length body at a dropped connection without
    * an error. */
  def fetchBody(conn: URLConnection, to: Path): Unit = {
    val in = conn.getInputStream
    try {
      val n = Files.copy(in, to)
      val promised = conn.getContentLengthLong
      if (promised >= 0 && n != promised) throw new java.io.IOException(
        s"${conn.getURL}: connection closed after $n of $promised bytes")
    } finally in.close()
  }

  /** The PRECISE single-file/single-dataset outputs a step declares —
    * `output_path`/`output_file` (SURVEY §2.1/2.2 arg tables). `out`
    * directories are deliberately NOT step-skippable: they receive many
    * files (downloads, extracts) and a non-empty dir says nothing about
    * completeness — those plugins skip per-file via [[shouldWrite]],
    * matching the reference's per-download `overwrite: false` semantics.
    */
  val outputKeys: Seq[String] = Seq("output_path", "output_file")

  def declaredOutputs(args: Map[String, Any]): Seq[Path] =
    outputKeys.flatMap(args.get).map(v => Paths.get(v.toString))

  /** Step-level skip: every declared output already materialized. */
  def stepSkippable(args: Map[String, Any], overwrite: Boolean): Boolean = {
    val outs = declaredOutputs(args)
    !overwrite && outs.nonEmpty && outs.forall(materialized)
  }
}
