package graft.runner.plugins

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.runner._

/** `publish_target` — S9, the last reference surface: push a produced
  * artifact to a published location addressed by URI
  * (/root/reference/pipelines/tiger/state.yml:8
  * `published_target_uri: gdrive://data/etl/Tiger/States`; the reference
  * declares the var but ships no consumer — this plugin is the engine's
  * completion of that contract).
  *
  * Scheme routing:
  *  - `file://` — real recursive copy (idempotent via `overwrite`).
  *  - `gdrive://` (and any other remote scheme) — the sandbox has no
  *    egress and no Drive credentials, so remote publication is an
  *    HONEST STAGING STUB: the artifact is mirrored under
  *    `{publish_root}/<scheme>/<path>` together with a `_manifest.json`
  *    (source, target URI, files, bytes, sha256 per file) — exactly the
  *    payload a real uploader would need, so swapping in a remote client
  *    is a pure I/O change. `publish_root` comes from the arg or env.
  *
  * Args: `source` (file or directory), `target_uri`, optional
  * `publish_root`, `overwrite`.
  */
object PublishTargetPlugin extends StepPlugin {
  val name = "publish_target"

  def run(ctx: StepContext): StepResult = {
    val source = Paths.get(ctx.argStr("source"))
    require(Files.exists(source), s"publish source missing: $source")
    val uri = java.net.URI.create(ctx.argStr("target_uri"))
    val scheme = Option(uri.getScheme).getOrElse("file")

    val targetDir: Path = scheme match {
      case "file" =>
        // a schemeless target_uri is a plain local path — Paths.get(URI)
        // requires an explicit scheme and would throw on it
        if (uri.getScheme == null) Paths.get(ctx.argStr("target_uri"))
        else Paths.get(uri)
      case remote =>
        val root = ctx.argStrOpt("publish_root")
          .orElse(ctx.scope.env.get("publish_root").map(_.toString))
          .getOrElse(sys.props("java.io.tmpdir") + "/graft_published")
        // gdrive://data/etl/X -> <root>/gdrive/data/etl/X
        Paths.get(root, remote,
          Option(uri.getAuthority).getOrElse(""), uri.getPath)
    }
    Files.createDirectories(targetDir)

    val files: Seq[Path] =
      if (Files.isDirectory(source)) {
        val stream = Files.walk(source)
        try stream.iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
        finally stream.close()
      } else Seq(source)

    // paths may legally contain quotes, backslashes or control chars —
    // raw interpolation would emit an invalid manifest for them
    def jstr(s: String): String = graft.MinJson.str(s)

    var published, skipped = 0
    val entries = files.map { f =>
      val rel =
        if (Files.isDirectory(source)) source.relativize(f).toString
        else f.getFileName.toString
      val dest = targetDir.resolve(rel)
      if (!Ledger.shouldWrite(dest, ctx.overwrite)) skipped += 1
      else {
        Ledger.commit(dest)(Files.copy(f, _))
        published += 1
      }
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(dest))
        .map("%02x".format(_)).mkString
      s"""{"path": ${jstr(rel)}, "bytes": ${Files.size(dest)}, "sha256": "$sha"}"""
    }

    if (scheme != "file") {
      val manifest =
        s"""{
           |  "target_uri": ${jstr(uri.toString)},
           |  "source": ${jstr(source.toString)},
           |  "n_files": ${files.size},
           |  "files": [${entries.mkString(", ")}]
           |}""".stripMargin
      Ledger.commit(targetDir.resolve("_manifest.json"))(
        Files.writeString(_, manifest))
    }

    StepResult(Map("target_uri" -> uri.toString,
      "published_dir" -> targetDir.toString,
      "n_published" -> published, "n_skipped" -> skipped))
  }
}
