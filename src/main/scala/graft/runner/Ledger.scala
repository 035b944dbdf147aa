package graft.runner

import java.nio.file.{Files, Path, Paths}

/** Materialization ledger (SURVEY §4): the engine-level form of the
  * reference's skip-if-exists idiom — `overwrite: false` on nearly every
  * step (e.g. /root/reference/pipelines/cdl/download-national-30m-2008-2025.yml:22,
  * pipelines/prism/stage-ts-ppt-day-mi-rollsum-14d.yml:31) gives
  * coarse-grained memoization / incremental re-runs across runs.
  *
  * Checks are O(listing), never O(data): existence (+ non-emptiness for
  * directories) only. Content-hash validation is deliberately absent —
  * the reference trusts presence, and at 100 TB so must we.
  */
object Ledger {

  /** Should this output be (re)produced? false ⇒ skip, it's materialized. */
  def shouldWrite(output: Path, overwrite: Boolean): Boolean =
    overwrite || !materialized(output)

  def materialized(output: Path): Boolean =
    Files.exists(output) && (!Files.isDirectory(output) || nonEmptyDir(output))

  /** A Spark write killed mid-job leaves only its `_temporary/`
    * staging dir in the output directory; that is not output, so such
    * a directory re-runs (every plugin writes with mode("overwrite")). */
  private def nonEmptyDir(dir: Path): Boolean = {
    val s = Files.list(dir)
    try s.anyMatch(_.getFileName.toString != "_temporary") finally s.close()
  }

  /** The PRECISE single-file/single-dataset outputs a step declares —
    * `output_path`/`output_file` (SURVEY §2.1/2.2 arg tables). `out`
    * directories are deliberately NOT step-skippable: they receive many
    * files (downloads, extracts) and a non-empty dir says nothing about
    * completeness — those plugins skip per-file via [[shouldWrite]],
    * matching the reference's per-download `overwrite: false` semantics.
    */
  def declaredOutputs(args: Map[String, Any]): Seq[Path] =
    Seq("output_path", "output_file")
      .flatMap(args.get).map(v => Paths.get(v.toString))

  /** Step-level skip: every declared output already materialized. */
  def stepSkippable(args: Map[String, Any], overwrite: Boolean): Boolean = {
    val outs = declaredOutputs(args)
    !overwrite && outs.nonEmpty && outs.forall(materialized)
  }
}
