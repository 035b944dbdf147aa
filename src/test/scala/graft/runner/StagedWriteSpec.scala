package graft.runner

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.runner.plugins.{CatalogJsonUpsertPlugin, DefaultRegistry,
  RemoteTreeWalker}
import graft.spec.Scope

/** Every file a plugin writes outside a Spark directory write goes
  * through [[Ledger.commit]]: a write cut off partway leaves no target
  * that a later run would skip as finished, the previous bytes of a
  * replaced target stay whole, and no staging file is left beside it. */
class StagedWriteSpec extends SparkSpecBase {

  private def tmpDir(): Path = Files.createTempDirectory("graft_staged")

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def run(root: Path, yaml: String,
                  plugins: StepPlugin*): Map[String, Any] = {
    val p = root.resolve("p.yml")
    Files.writeString(p, yaml)
    new PipelineRunner(DefaultRegistry().withPlugins(plugins),
      env = Map("basedir" -> root.toString),
      sparkProvider = () => spark, assetRoots = Seq(root))
      .runFile(p).results.head.fields
  }

  /** A one-item STAC FeatureCollection whose item `s1` has one asset
    * per `(key, href)`. */
  private def stacCatalog(root: Path, assets: (String, String)*): Path = {
    val as = assets.map { case (k, h) => s""""$k": {"href": "$h"}""" }
    val page = root.resolve("items.json")
    Files.writeString(page, s"""{"features": [{"id": "s1",
      |  "properties": {"datetime": "2024-06-01T12:00:00Z"},
      |  "assets": {${as.mkString(", ")}}}]}""".stripMargin)
    page
  }

  test("a STAC asset cut off mid-body leaves no target; the next run " +
    "fetches it") {
    // the server promises ten times the bytes it sends, then closes
    val truncate = new AtomicBoolean(true)
    val body = "0123456789".getBytes
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/B04.tif", (ex: com.sun.net.httpserver.HttpExchange) => {
      val promised = if (truncate.get()) body.length * 10L else body.length
      ex.sendResponseHeaders(200, promised)
      ex.getResponseBody.write(body)
      ex.getResponseBody.flush()
      ex.close()
    })
    srv.start()
    try {
      val root = tmpDir()
      val page = stacCatalog(root,
        "B04" -> s"http://127.0.0.1:${srv.getAddress.getPort}/B04.tif")
      val yaml = s"""steps:
        |  - plugin: stac_asset_download
        |    args:
        |      api_url: "${page.toUri}"
        |      timeout_seconds: 10
        |      out: "{env.basedir}/staged"
        |""".stripMargin
      intercept[Exception](run(root, yaml))
      assert(names(root.resolve("staged")).isEmpty,
        "no target and no staging file")
      truncate.set(false)
      assert(run(root, yaml)("n_assets") == 1)
      assert(Files.readAllBytes(root.resolve("staged/s1_B04.tif"))
        .sameElements(body))
    } finally srv.stop(0)
  }

  test("asset_keys given as a scalar fetches only that asset") {
    val root = tmpDir()
    Seq("B04", "B08").foreach(b => Files.writeString(root.resolve(s"$b.tif"), b))
    val page = stacCatalog(root,
      "B04" -> root.resolve("B04.tif").toUri.toString,
      "B08" -> root.resolve("B08.tif").toUri.toString)
    val res = run(root, s"""steps:
      |  - plugin: stac_asset_download
      |    args:
      |      api_url: "${page.toUri}"
      |      asset_keys: B04
      |      out: "{env.basedir}/staged"
      |""".stripMargin)
    assert(res("n_assets") == 1, res.toString)
    assert(names(root.resolve("staged")) == Set("s1_B04.tif"))
  }

  /** A catalog of items `(id, datetime, bbox JSON or "")`, each with one
    * local `data` asset. */
  private def stacItems(root: Path, items: (String, String, String)*): Path = {
    val data = Files.writeString(root.resolve("data.bin"), "d")
    val fs = items.map { case (id, dt, bbox) =>
      val b = if (bbox.isEmpty) "" else s""""bbox": $bbox, """
      s"""{"id": "$id", $b"properties": {"datetime": "$dt"},
         |  "assets": {"data": {"href": "${data.toUri}"}}}""".stripMargin
    }
    val page = root.resolve("items.json")
    Files.writeString(page, s"""{"features": [${fs.mkString(", ")}]}""")
    page
  }

  private def stacRun(root: Path, page: Path,
                      filter: String): Map[String, Any] =
    run(root, s"""steps:
      |  - plugin: stac_asset_download
      |    args:
      |      api_url: "${page.toUri}"
      |      $filter
      |      out: "{env.basedir}/staged"
      |""".stripMargin)

  test("a single-instant STAC datetime selects the items of that day") {
    val root = tmpDir()
    val page = stacItems(root, ("before", "2024-05-31T23:59:59Z", ""),
      ("noon", "2024-06-01T12:00:00Z", ""),
      ("late", "2024-06-01T23:59:59Z", ""),
      ("after", "2024-06-02T00:00:00Z", ""))
    assert(stacRun(root, page, "datetime: 2024-06-01")("n_items") == 2)
    assert(names(root.resolve("staged")) ==
      Set("noon_data.bin", "late_data.bin"))
    val exact = stacRun(tmpDir(), stacItems(tmpDir(),
      ("noon", "2024-06-01T12:00:00Z", ""),
      ("later", "2024-06-01T12:00:01Z", "")),
      "datetime: \"2024-06-01T12:00:00Z\"")
    assert(exact("n_items") == 1, exact.toString)
  }

  test("a 3D item bbox is filtered on its x/y extent, not its z") {
    val root = tmpDir()
    // [minx, miny, minz, maxx, maxy, maxz]: a 2D reading takes minz = 1
    // for maxx and misses the query box inside the item's x/y extent
    val page = stacItems(root, ("inside", "2024-06-01", "[0, 0, 1, 10, 10, 2]"),
      ("outside", "2024-06-01", "[20, 20, 0, 30, 30, 1]"),
      ("flat", "2024-06-01", "[4, 4, 7, 7]"))
    assert(stacRun(root, page, "bbox: [5, 5, 6, 6]")("n_items") == 2)
    assert(names(root.resolve("staged")) ==
      Set("inside_data.bin", "flat_data.bin"))
  }

  test("a query bbox that is not a list of 4 or 6 numbers fails naming " +
    "bbox") {
    Seq("bbox: \"0,0,10,10\"", "bbox: [0, 0, 10]", "bbox: [0, 0, x, 10]")
      .foreach { arg =>
        val root = tmpDir()
        val page = stacItems(root, ("s1", "2024-06-01", "[0, 0, 10, 10]"))
        val e = intercept[Exception](stacRun(root, page, arg))
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
        assert(msgs.exists(_.contains("'bbox'")), s"$arg: $msgs")
        assert(!Files.exists(root.resolve("staged/s1_data.bin")))
      }
  }

  test("a tree-walk fetch that throws after a partial write leaves no " +
    "target; the next run fetches it") {
    val lister = new RemoteTreeWalker.Lister {
      def list(url: String) =
        if (url.stripSuffix("/") == "ftp://host/d") Some(Seq("a.bin"))
        else None
    }
    val fail = new AtomicBoolean(true)
    val walker = new RemoteTreeWalker(lister, (url, to, _) => {
      Files.writeString(to, "partial")
      if (fail.get()) throw new java.io.IOException(s"$url: data channel lost")
      Files.writeString(to, url)
    })
    val root = tmpDir()
    val yaml = s"""steps:
      |  - plugin: ftp_download_tree
      |    args:
      |      url: "ftp://host/d"
      |      out: "{env.basedir}/mirror"
      |""".stripMargin
    intercept[Exception](run(root, yaml, walker))
    assert(names(root.resolve("mirror")).isEmpty)
    fail.set(false)
    assert(run(root, yaml, walker)("n_fetched") == 1)
    assert(Files.readString(root.resolve("mirror/a.bin")) == "ftp://host/d/a.bin")
  }

  test("a truncated .gz fails without a partial target; the re-run " +
    "extracts") {
    val root = tmpDir()
    val data = new Array[Byte](256 * 1024)
    new scala.util.Random(7).nextBytes(data)
    val buf = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(data); gz.close()
    val full = buf.toByteArray
    val archive = root.resolve("t.bin.gz")
    Files.write(archive, full.take(full.length / 2))
    val yaml = s"""steps:
      |  - plugin: gzip_extract
      |    args:
      |      archive: "$archive"
      |      out: "{env.basedir}/extract"
      |""".stripMargin
    intercept[Exception](run(root, yaml))
    assert(names(root.resolve("extract")).isEmpty)
    Files.write(archive, full)
    run(root, yaml)
    assert(Files.readAllBytes(root.resolve("extract/t.bin")).sameElements(data))
  }

  test("a truncated zip leaves no .extracted_ marker; the re-run " +
    "extracts") {
    val root = tmpDir()
    val big = new Array[Byte](128 * 1024)
    new scala.util.Random(11).nextBytes(big)
    val buf = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(buf)
    zos.putNextEntry(new java.util.zip.ZipEntry("a.txt"))
    zos.write("alpha".getBytes); zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("inner/big.bin"))
    zos.write(big); zos.closeEntry(); zos.close()
    val full = buf.toByteArray
    val archive = root.resolve("data.zip")
    Files.write(archive, full.take(full.length / 2))
    val yaml = s"""steps:
      |  - plugin: archive_extract
      |    args:
      |      archive: "$archive"
      |      out: "{env.basedir}/extract"
      |""".stripMargin
    intercept[Exception](run(root, yaml))
    assert(!Files.exists(root.resolve("extract/.extracted_data.zip")))
    assert(!Files.exists(root.resolve("extract/inner/big.bin")),
      "the entry cut off is not left partial")
    Files.write(archive, full)
    assert(run(root, yaml)("n_extracted") == 1)
    assert(Files.readString(root.resolve("extract/a.txt")) == "alpha")
    assert(Files.readAllBytes(root.resolve("extract/inner/big.bin"))
      .sameElements(big))
    assert(names(root.resolve("extract/inner")) == Set("big.bin"))
  }

  test("combine_files and a geo .csv aggregate leave only their target: " +
    "nothing beside it, nothing new in java.io.tmpdir") {
    import spark.implicits._
    val root = tmpDir()
    Files.createDirectories(root.resolve("in"))
    Files.writeString(root.resolve("in/a.csv"), "k,v\n1,2\n")
    Files.writeString(root.resolve("in/b.csv"), "k,v\n3,4\n")
    Seq((1L, 0, 0, 1.0), (2L, 1, 0, 3.0), (3L, 5, 5, 7.0))
      .toDF("cell_id", "x", "y", "value")
      .write.parquet(root.resolve("raster").toString)
    Seq(("26001", "Alcona", "MI", 0, 0, 1, 1))
      .toDF("geoid", "name", "stusps", "xmin", "ymin", "xmax", "ymax")
      .write.parquet(root.resolve("counties").toString)
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val before = names(tmp)
    run(root, s"""steps:
      |  - plugin: combine_files
      |    args:
      |      input_glob: "{env.basedir}/in/*.csv"
      |      output_file: "{env.basedir}/out/combined.csv"
      |  - plugin: geo/geo_county_raster_aggregate
      |    args:
      |      raster_path: "{env.basedir}/raster"
      |      county_path: "{env.basedir}/counties"
      |      value_prefix: ppt
      |      output_path: "{env.basedir}/out/county.csv"
      |""".stripMargin)
    assert(names(root.resolve("out")) == Set("combined.csv", "county.csv"))
    assert(Files.readAllLines(root.resolve("out/combined.csv")).asScala
      .toSet == Set("k,v", "1,2", "3,4"))
    val county = Files.readAllLines(root.resolve("out/county.csv")).asScala
    assert(county.size == 2 && county(1).startsWith("26001,Alcona"), county)
    assert(names(tmp) -- before == Set.empty)
  }

  test("a failing commit leaves the previous catalog.json " +
    "byte-identical") {
    val root = tmpDir()
    val catalog = root.resolve("catalog.json")
    Seq("d1" -> "one", "d2" -> "two").foreach { case (id, title) =>
      CatalogJsonUpsertPlugin.run(StepContext(
        Map("catalog_json" -> catalog.toString, "dataset_id" -> id,
          "record" -> Map("title" -> title)),
        Scope(), () => spark, runner = null))
    }
    val before = Files.readAllBytes(catalog)
    // the upsert's write, cut off after part of the new catalog is out
    intercept[java.io.IOException](Ledger.commit(catalog) { part =>
      Files.write(part, before.take(before.length / 2))
      throw new java.io.IOException("disk full")
    })
    assert(Files.readAllBytes(catalog).sameElements(before))
    assert(names(root) == Set("catalog.json"))
  }

  test("no plugin writes a file in place: staging lives in Ledger") {
    // split so this file does not match its own needles
    val needles = Seq("REPLACE_" + "EXISTING", "Files." + "move",
      "createTemp" + "Directory")
    val dir = Paths.get("src/main/scala/graft/runner/plugins")
    val hits = names(dir).toSeq.sorted.flatMap { f =>
      Files.readAllLines(dir.resolve(f)).asScala.zipWithIndex.collect {
        case (l, i) if needles.exists(l.contains) => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no plugin parses an arg by hand: typed args go through StepContext") {
    val handRolled = Seq(
      """argOpt\([^)]*\)\s*\.map\(_\.toString""".r,
      """argStr\([^)]*\)\.to(Int|Long|Double)\b""".r)
    val dir = Paths.get("src/main/scala/graft/runner/plugins")
    val hits = names(dir).toSeq.sorted.flatMap { f =>
      val src = Files.readString(dir.resolve(f))
      handRolled.flatMap(_.findAllMatchIn(src)).map { m =>
        s"$f:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no plugin writes parquet but through Counted.write, and none " +
    "recounts a parquet re-read") {
    val args = """(?:[^()]|\([^()]*\))*"""
    val rawWrite = raw"""\.write\b(?:\s*\.\w+\($args\))*\s*\.parquet\(""".r
    val reCount =
      raw"""read\.parquet\($args\)((?:\s*\.\w+\($args\))*?)\s*\.count\(\)""".r
    // DuckDB bulk-loads a parquet staging copy of the rows, not an output
    val allowed = Set("JdbcPlugins.scala" ->
      "df.write.mode(\"overwrite\").parquet(tmp.toString)")
    val dir = Paths.get("src/main/scala/graft/runner/plugins")
    val hits = names(dir).toSeq.sorted.flatMap { f =>
      val src = Files.readString(dir.resolve(f))
      val lines = src.split("\n", -1)
      val starts = rawWrite.findAllMatchIn(src).map(_.start) ++
        reCount.findAllMatchIn(src)
          .filterNot(_.group(1).contains(".distinct()")).map(_.start)
      starts.map(i => src.take(i).count(_ == '\n'))
        .filterNot(l => allowed(f -> lines(l).trim))
        .map(l => s"$f:${l + 1}: ${lines(l).trim}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one driver-local graph path: the dense remap and the pair set " +
    "live in LocalGraph, the dropped graph options nowhere") {
    // split so this file does not match its own needles
    val gone = Seq("edgeCount" + "Hint", "pre" + "Deduped")
    val localOnly = Seq("HashMap[Any, " + "Integer]", "new Packed" + "PairSet")
    val home = Paths.get("src/main/scala/graft/operators/LocalGraph.scala")
    val walk = Files.walk(Paths.get("src"))
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      finally walk.close()
    val hits = files.flatMap { f =>
      val needles = if (f == home) gone else gone ++ localOnly
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if needles.exists(l.contains) => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
