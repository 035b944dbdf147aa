package graft.runner.plugins

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.Profile
import graft.runner._
import graft.spec.Yaml

/** JSON tree <-> Scala tree via json4s (ships with Spark). */
object JsonUtil {
  def parse(text: String): Any = fromJValue(JsonMethods.parse(text))
  def write(v: Any): String =
    JsonMethods.pretty(JsonMethods.render(toJValue(v)))

  def fromJValue(j: JValue): Any = j match {
    case JObject(fields) => fields.map { case (k, v) => k -> fromJValue(v) }.toMap
    case JArray(items) => items.map(fromJValue)
    case JString(s) => s
    case JInt(i) => if (i.isValidLong) i.toLong else i
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JNull | JNothing => null
  }

  def toJValue(v: Any): JValue = v match {
    case null => JNull
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) =>
      (String.valueOf(k), toJValue(x)) })
    case l: Seq[_] => JArray(l.toList.map(toJValue))
    case s: String => JString(s)
    case i: Int => JInt(i)
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case b: Boolean => JBool(b)
    case other => JString(other.toString)
  }
}

/** A5 — `vector_facts`: profile a feature dataset into a facts JSON
  * (feature count, per-column stats, schema)
  * (/root/reference/pipelines/tiger/county.yml:36-41); downstream steps
  * read `{vector_facts.vector_facts_json}` (county.yml:47).
  * `feature_count` is the input's row count from its parquet footers. */
object VectorFactsPlugin extends StepPlugin {
  val name = "vector_facts"
  def run(ctx: StepContext): StepResult = {
    // reference names: input_dir / output_dir
    // (/root/reference/pipelines/tiger/county.yml:38-40); output_dir
    // receives the canonical vector_facts.json inside it
    val in = ctx.argAnyStr("path", "input_dir")
    val df = ctx.spark.read.parquet(in)
    val profile = Profile(df).collect().map { r =>
      Map(
        "column" -> r.getString(0), "dtype" -> r.getString(1),
        "n_rows" -> r.getLong(2), "n_nulls" -> r.getLong(3),
        "n_distinct" -> r.getLong(4))
    }.toList
    val facts = Map(
      "feature_count" -> Counted.parquetRows(ctx.spark, in),
      "schema" -> df.schema.json,
      "columns" -> profile)
    val out = ctx.argStrOpt("output_path").map(Paths.get(_)).getOrElse(
      Paths.get(ctx.argStr("output_dir")).resolve("vector_facts.json"))
    Ledger.commit(out)(Files.writeString(_, JsonUtil.write(facts)))
    StepResult(Map("vector_facts_json" -> out.toString,
      "feature_count" -> facts("feature_count")))
  }
}

/** O6 — `ai_dataset_evidence_bundle`: sample rows + schema + notes into
  * an evidence pack; returns the file-path fields downstream steps
  * interpolate (/root/reference/pipelines/tiger/county.yml:42-51). */
object EvidenceBundlePlugin extends StepPlugin {
  val name = "ai_dataset_evidence_bundle"
  def run(ctx: StepContext): StepResult = {
    // reference arg names accepted verbatim: input_path / output_dir /
    // supplemental_urls_file / dataset_id / vector_facts_json
    // (/root/reference/pipelines/tiger/county.yml:44-51)
    val outDir = Paths.get(ctx.argAnyStr("out", "output_dir"))
    val df = ctx.spark.read.parquet(ctx.argAnyStr("path", "input_path"))
    val n = ctx.argInt("sample_rows", 10)
    val sample = outDir.resolve("sample.json")
    val rows = df.limit(n).toJSON.collect().mkString("[\n", ",\n", "\n]")
    Ledger.commit(sample)(Files.writeString(_, rows))
    val schema = outDir.resolve("schema.json")
    Ledger.commit(schema)(Files.writeString(_, df.schema.prettyJson))
    val notes = outDir.resolve("notes.md")
    Ledger.commit(notes)(Files.writeString(_,
      ctx.argStr("notes", "")))
    val urls = outDir.resolve("supplemental_urls.txt")
    // inline list (`supplemental_urls`) or a urls FILE whose lines are
    // bundled (`supplemental_urls_file`, the reference's form — resolved
    // against the runner's asset roots like any pipeline-relative path)
    val urlLines = ctx.argList("supplemental_urls").map(_.mkString("\n"))
      .orElse(ctx.argStrOpt("supplemental_urls_file").map { f =>
        val p = ctx.runner.resolvePath(Paths.get(f),
          ctx.currentPipeline.map(Paths.get(_)))
        Files.readString(p)
      }).getOrElse("")
    Ledger.commit(urls)(Files.writeString(_, urlLines))
    // dataset identity + upstream facts pointer ride along so the
    // bundle is self-describing (what the research step consumes)
    val meta = outDir.resolve("dataset.json")
    Ledger.commit(meta)(Files.writeString(_, JsonUtil.write(Map(
      "dataset_id" -> ctx.argStr("dataset_id", ""),
      "vector_facts_json" ->
        ctx.argStr("vector_facts_json", "")))))
    StepResult(Map(
      "sample_file" -> sample.toString, "schema_file" -> schema.toString,
      "notes_file" -> notes.toString,
      "supplemental_urls_file" -> urls.toString,
      "dataset_json" -> meta.toString))
  }
}

/** O7 — `ai_dataset_research`: LLM documentation generator in the
  * reference (/root/reference/pipelines/tiger/county.yml:52-64); an
  * out-of-engine integration point, stubbed as a deterministic template
  * over the evidence bundle so pipelines complete reproducibly. */
object DatasetResearchPlugin extends StepPlugin {
  val name = "ai_dataset_research"
  def run(ctx: StepContext): StepResult = {
    // reference contract (/root/reference/pipelines/tiger/county.yml:53-64):
    // output_dir receives research.md; title/data_class/artifact_uri/
    // notes_file/supplemental_urls_file all flow into the document so
    // the downstream catalog_json_upsert has the full record
    val out = ctx.argStrOpt("output_file").map(Paths.get(_)).getOrElse(
      Paths.get(ctx.argStr("output_dir")).resolve("research.md"))
    def opt(k: String) = ctx.argStr(k, "")
    val doc = s"""# Dataset research (deterministic stub)
                 |dataset_id: ${opt("dataset_id")}
                 |title: ${opt("title")}
                 |data_class: ${opt("data_class")}
                 |artifact_uri: ${opt("artifact_uri")}
                 |sample: ${opt("sample_file")}
                 |schema: ${opt("schema_file")}
                 |notes: ${opt("notes_file")}
                 |supplemental_urls: ${opt("supplemental_urls_file")}
                 |""".stripMargin
    Ledger.commit(out)(Files.writeString(_, doc))
    StepResult(Map("output_file" -> out.toString))
  }
}

/** O8 — `catalog_json_upsert`: upsert a record into `catalog.json` keyed
  * by `dataset_id`, tagged `project_id`/`source_step`
  * (/root/reference/pipelines/tiger/county.yml:65-72). */
object CatalogJsonUpsertPlugin extends StepPlugin {
  val name = "catalog_json_upsert"
  def run(ctx: StepContext): StepResult = {
    // checkout-relative (`catalog_json: .runs/catalog/catalog.json`,
    // /root/reference/pipelines/tiger/county.yml:9) — may be a write
    // target that does not exist yet, so fsPath, not resolvePath
    val path = ctx.fsPath(ctx.argStr("catalog_json"))
    // the reference step carries no dataset_id arg
    // (/root/reference/pipelines/tiger/county.yml:66-71) — the id is
    // read from the research document it upserts
    val datasetId = ctx.argStrOpt("dataset_id").getOrElse {
      val rf = ctx.argStrOpt("research_file").getOrElse(
        throw new IllegalArgumentException(
          "catalog_json_upsert needs dataset_id or a research_file " +
            "carrying one"))
      "(?m)^dataset_id:\\s*(\\S+)".r
        .findFirstMatchIn(Files.readString(ctx.fsPath(rf)))
        .map(_.group(1)).getOrElse(throw new IllegalArgumentException(
          s"no 'dataset_id:' line in research file $rf"))
    }
    val existing: Map[String, Any] =
      if (Files.exists(path))
        JsonUtil.parse(Files.readString(path)).asInstanceOf[Map[String, Any]]
      else Map.empty
    val record = ctx.argOpt("record") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty[String, Any]
    }
    val tagged = record ++
      ctx.argOpt("project_id").map("project_id" -> _) ++
      ctx.argOpt("source_step").map("source_step" -> _) ++
      ctx.argOpt("research_file").map("research_file" -> _)
    val old = existing.get(datasetId) match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
      case _ => Map.empty[String, Any]
    }
    val merged = existing + (datasetId -> (old ++ tagged))
    Ledger.commit(path)(Files.writeString(_, JsonUtil.write(merged)))
    StepResult(Map("catalog_json" -> path.toString, "dataset_id" -> datasetId))
  }
}

/** O9 — `catalog_yaml_sync`: sync a catalog entry into a YAML repo;
  * `overwrite_managed_fields: false` keeps managed fields as-is on the
  * target (field-level merge —
  * /root/reference/pipelines/tiger/county.yml:73-80). */
object CatalogYamlSyncPlugin extends StepPlugin {
  val name = "catalog_yaml_sync"
  def run(ctx: StepContext): StepResult = {
    val catalog = JsonUtil.parse(
      Files.readString(ctx.fsPath(ctx.argStr("catalog_json"))))
      .asInstanceOf[Map[String, Any]]
    val datasetId = ctx.argStr("dataset_id")
    val entry = catalog.getOrElse(datasetId, Map.empty)
      .asInstanceOf[Map[String, Any]]
    // reference name: catalog_repo (the checkout dir the YAML lands in,
    // /root/reference/pipelines/tiger/county.yml:77)
    // `catalog_repo: ../landcore-data-catalog` (county.yml:77) — the
    // sibling checkout the YAML lands in, checkout-relative
    val target = ctx.fsPath(ctx.argAnyStr("target_dir", "catalog_repo"))
      .resolve(s"$datasetId.yml")
    val overwriteManaged = ctx.argBool("overwrite_managed_fields", false)
    val managed = ctx.argList("managed_fields").getOrElse(Nil).toSet
    val existing: Map[String, Any] =
      if (Files.exists(target))
        graft.spec.Pipeline.asMap(Yaml.parse(Files.readString(target)))
      else Map.empty
    val merged = if (overwriteManaged) existing ++ entry
    else entry ++ existing.view.filterKeys(managed).toMap ++
      (existing -- entry.keySet)
    Ledger.commit(target)(Files.writeString(_, Yaml.dump(merged)))
    StepResult(Map("target_file" -> target.toString))
  }
}
