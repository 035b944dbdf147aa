package graft

import java.nio.file.Paths

import graft.runner.PipelineRunner
import graft.runner.plugins.DefaultRegistry

/** CLI pipeline runner — the engine's analog of the reference's
  * `python cli.py run <pipeline.yml> --env <env> --project-id <id>`
  * (/root/reference/pipelines/prism/README.md:13).
  *
  * Usage:
  *   runMain graft.RunPipeline <pipeline.yml> [--env <name>] [k=v ...]
  * `--env <name>` loads the named profile `envs/<name>.yml` (searched
  * next to the pipeline, then in the working directory) — a flat YAML
  * map that seeds `{env.k}` tokens, the reference's named-environment
  * selection. Inline k=v pairs layer ON TOP of the profile (CLI wins);
  * `var.k=v` pairs become vars overrides (the CLI form of parent
  * `vars_kv`).
  */
object RunPipeline {

  /** Load `envs/<name>.yml` from the first root that has it. The profile
    * must be a flat map; values keep their YAML types (ints stay ints —
    * same typing rule as `vars_kv` re-typing). */
  def loadProfile(name: String,
                  roots: Seq[java.nio.file.Path]): Map[String, Any] = {
    val file = roots.map(_.resolve("envs").resolve(s"$name.yml"))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(throw new IllegalArgumentException(
        s"env profile '$name' not found: tried " +
          roots.map(_.resolve(s"envs/$name.yml")).mkString(", ")))
    graft.spec.Yaml.loadFile(file) match {
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> v }
      case other => throw new IllegalArgumentException(
        s"env profile $file must be a flat map, got ${other.getClass}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: RunPipeline <pipeline.yml> [--env <name>] [k=v ...]")
    val path = Paths.get(args.head)
    val (profileName, rest) = args.tail.toSeq match {
      case "--env" +: name +: tail => (Some(name), tail)
      case tail => (None, tail)
    }
    val kvs = rest.map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }
    val profile: Map[String, Any] = profileName
      .map(loadProfile(_, Seq(path.toAbsolutePath.getParent, Paths.get("."))))
      .getOrElse(Map.empty)
    val env: Map[String, Any] =
      profile ++ kvs.filterNot(_._1.startsWith("var.")).toMap
    val overrides: Map[String, Any] = kvs.collect {
      case (k, v) if k.startsWith("var.") => k.stripPrefix("var.") -> v
    }.toMap

    lazy val spark = GraftSession.builder("graft-pipeline").getOrCreate()

    val runner = new PipelineRunner(
      DefaultRegistry(), env, () => spark,
      assetRoots = Seq(path.toAbsolutePath.getParent, Paths.get(".")))
    val result = runner.runFile(path, overrides)
    result.results.zipWithIndex.foreach { case (r, i) =>
      val status = if (r.skipped) "SKIP" else "OK"
      println(f"[pipeline] step ${i + 1}%02d $status ${r.fields}")
    }
    println(s"[pipeline] completed ${result.results.size} steps")
  }
}
