package graft.runner.plugins

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.runner._

/** S3 — `stac_asset_download`: STAC search + asset fetch with
  * source-side pushdown (/root/reference/pipelines/sentinel/
  * download-sentinel2-l2a-michigan.yml:43-59): spatial `bbox`, temporal
  * `datetime` range, property filter `query_json`
  * (`{"eo:cloud_cover":{"lt":20}}`), asset projection `asset_keys`,
  * paging `page_size`/`max_items` (0 = unlimited), `save_item_json`.
  *
  * The filters ARE the optimization: predicate + projection pushdown to
  * the source API (SURVEY §4), so only matching items/assets ever move.
  * `file://` api_url points at a local FeatureCollection JSON — the same
  * filter/projection path, network-free (tests + air-gapped staging).
  */
object StacAssetDownloadPlugin extends StepPlugin {
  val name = "stac_asset_download"

  def run(ctx: StepContext): StepResult = {
    val out = Paths.get(ctx.argStr("out"))
    Files.createDirectories(out)
    val maxItems = ctx.argInt("max_items", 0)
    val qbox = ctx.argOpt("bbox").map(b => bbox2d(b).getOrElse(
      throw new IllegalArgumentException(
        s"arg 'bbox' must be a list of 4 or 6 numbers, got '$b'")))
    val items = search(ctx, qbox)
    val selected = if (maxItems > 0) items.take(maxItems) else items
    val assetKeys = ctx.argList("asset_keys").getOrElse(Nil)
    val timeoutMs = ctx.argInt("timeout_seconds", 180) * 1000
    var fetched = 0
    selected.foreach { item =>
      val id = item.getOrElse("id", "item").toString
      if (ctx.argBool("save_item_json", default = false)) {
        Ledger.commit(out.resolve(s"$id.json"))(
          Files.writeString(_, JsonUtil.write(item)))
      }
      val assets = item.getOrElse("assets", Map.empty)
        .asInstanceOf[Map[String, Any]]
      val wanted = if (assetKeys.isEmpty) assets
      else assets.view.filterKeys(assetKeys.contains(_)).toMap
      wanted.foreach { case (key, a) =>
        val href = a.asInstanceOf[Map[String, Any]]
          .getOrElse("href", "").toString
        if (href.nonEmpty) {
          val target = out.resolve(s"${id}_$key${ext(href)}")
          if (Ledger.shouldWrite(target, ctx.overwrite)) {
            Ledger.commit(target)(Ledger.fetch(sign(href, ctx), _, timeoutMs))
            fetched += 1
          }
        }
      }
    }
    StepResult(Map("n_items" -> selected.size, "n_assets" -> fetched,
      "out" -> out.toString))
  }

  private def ext(href: String): String = {
    val f = href.split('/').last
    val i = f.lastIndexOf('.')
    if (i >= 0) f.substring(i) else ""
  }

  /** Asset-href signing (`sign_api_url`, the reference's Planetary-
    * Computer-style token endpoint): GET sign?href=<asset>; the
    * response is either JSON `{"href": signed}` or the signed URL
    * itself. No signer configured → href passes through. */
  private def sign(href: String, ctx: StepContext): String =
    ctx.argStrOpt("sign_api_url") match {
      case Some(s) =>
        val sep = if (s.contains("?")) "&" else "?"
        val u = s + sep + "href=" +
          java.net.URLEncoder.encode(href, "UTF-8")
        val resp = fetchDoc(u, ctx).trim
        try JsonUtil.parse(resp) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
            .get("href").map(_.toString).getOrElse(resp)
          case _ => resp
        } catch { case _: Exception => resp }
      case None => href
    }

  private def fetchDoc(url: String, ctx: StepContext): String =
    if (url.startsWith("file:"))
      Files.readString(Paths.get(URI.create(url)))
    else httpGet(url, ctx)

  /** Paged search: `page_size` becomes the request's `limit` and pages
    * chain through the FeatureCollection's `rel: next` link (the STAC
    * API paging contract) until exhausted or `max_items` collected —
    * item filters stay source-side per page, so an unbounded catalog
    * never materializes in memory. A visited-URL set guards circular
    * next links. file:// pages chain identically (network-free tests). */
  private def search(ctx: StepContext,
                     qbox: Option[Seq[Double]]): List[Map[String, Any]] = {
    val api = ctx.argStr("api_url")
    val pageSize = ctx.argInt("page_size", 0)
    val maxItems = ctx.argInt("max_items", 0)
    val first = if (pageSize > 0 && !api.startsWith("file:")) {
      val sep = if (api.contains("?")) "&" else "?"
      s"$api${sep}limit=$pageSize"
    } else api
    val acc = List.newBuilder[Map[String, Any]]
    var n = 0
    var url: Option[String] = Some(first)
    val visited = scala.collection.mutable.Set[String]()
    while (url.isDefined && (maxItems == 0 || n < maxItems) &&
      visited.add(url.get)) {
      val tree = JsonUtil.parse(fetchDoc(url.get, ctx))
      val (features, next) = tree match {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          val fs = mm.getOrElse("features", Nil) match {
            case l: Seq[_] => l.toList
            case _ => Nil
          }
          val nx = mm.getOrElse("links", Nil) match {
            case l: Seq[_] => l.collectFirst {
              case lm: Map[_, _]
                if lm.asInstanceOf[Map[String, Any]]
                  .get("rel").exists(_.toString == "next") =>
                lm.asInstanceOf[Map[String, Any]]
                  .getOrElse("href", "").toString
            }.filter(_.nonEmpty)
            case _ => None
          }
          (fs, nx)
        case l: Seq[_] => (l.toList, None)
        case _ => (Nil, None)
      }
      val matched = features.map(_.asInstanceOf[Map[String, Any]])
        .filter(matches(_, ctx, qbox))
      acc ++= matched
      n += matched.size
      url = next
    }
    acc.result()
  }

  private def httpGet(url: String, ctx: StepContext): String = {
    val timeout = ctx.argInt("timeout_seconds", 180)
    val conn = URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(timeout * 1000)
    conn.setReadTimeout(timeout * 1000)
    val in = conn.getInputStream
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** ISO timestamp or date-only string → Instant; date-only parses to
    * start-of-day (or end-of-day for interval end bounds, per STAC).
    * Tolerant: offset-less timestamps (common in real catalogs) are
    * taken as UTC; an unparseable value yields None — the FILTER treats
    * that as "matches" rather than aborting the whole download. */
  private def parseDt(s: String, endOfDay: Boolean): Option[java.time.Instant] = {
    val t = s.trim
    try {
      if (t.matches("\\d{4}-\\d{2}-\\d{2}")) {
        val d = java.time.LocalDate.parse(t)
        val ldt = if (endOfDay) d.atTime(java.time.LocalTime.MAX)
                  else d.atStartOfDay()
        Some(ldt.toInstant(java.time.ZoneOffset.UTC))
      } else try Some(java.time.OffsetDateTime.parse(t).toInstant)
      catch {
        case _: java.time.format.DateTimeParseException =>
          Some(java.time.LocalDateTime.parse(t)
            .toInstant(java.time.ZoneOffset.UTC))
      }
    } catch { case _: Exception => None }
  }

  /** A bbox as 2D `[minx, miny, maxx, maxy]`: 4 numbers, or 6 for a 3D
    * box `[minx, miny, minz, maxx, maxy, maxz]` (STAC/GeoJSON), whose z
    * range is dropped. Anything else is None. */
  private def bbox2d(v: Any): Option[Seq[Double]] = v match {
    case l: Seq[_] if l.size == 4 || l.size == 6 =>
      val d = l.flatMap(x => String.valueOf(x).toDoubleOption)
      Option.when(d.size == l.size)(
        if (d.size == 6) Seq(d(0), d(1), d(3), d(4)) else d)
    case _ => None
  }

  /** collection + bbox intersection + datetime range + query_json
    * property filters. */
  private def matches(item: Map[String, Any], ctx: StepContext,
                      qbox: Option[Seq[Double]]): Boolean = {
    val props = item.getOrElse("properties", Map.empty)
      .asInstanceOf[Map[String, Any]]
    // `collection` selects the searched collection
    // (/root/reference/pipelines/sentinel/download-sentinel2-l2a-michigan.yml:46);
    // items without the field pass (tolerant, like the other filters)
    val collOk = ctx.argStrOpt("collection").forall { c =>
      item.get("collection").forall(_.toString == c)
    }
    // an item without a well-formed bbox passes, like the other filters
    val bboxOk = qbox.forall { qb =>
      item.get("bbox").flatMap(bbox2d).forall { ib =>
        ib(0) <= qb(2) && ib(2) >= qb(0) && ib(1) <= qb(3) && ib(3) >= qb(1)
      }
    }
    val dtOk = ctx.argStrOpt("datetime") match {
      case Some(range) =>
        // a single instant `v` is the interval [v, v]: a date-only value
        // covers its whole day
        val (start, end) = range.split("/", 2) match {
          case Array(s, e) => (s, e)
          case Array(v) => (v, v)
        }
        props.get("datetime").forall { d =>
          // Compare as Instants, not raw strings: a date-only end bound
          // must cover the whole day (STAC interval semantics — the
          // string compare dropped items stamped later that day), and
          // mixed offset spellings ('+00:00' vs 'Z') order incorrectly
          // lexicographically. Unparseable values are included, never
          // fatal.
          parseDt(d.toString, endOfDay = false).forall { t =>
            (start == ".." ||
              parseDt(start, endOfDay = false).forall(!t.isBefore(_))) &&
              (end == ".." ||
                parseDt(end, endOfDay = true).forall(!t.isAfter(_)))
          }
        }
      case None => true
    }
    val queryOk = ctx.argOpt("query_json") match {
      case Some(q) =>
        val filters = JsonUtil.parse(q.toString).asInstanceOf[Map[String, Any]]
        filters.forall { case (field, cond) =>
          val ops = cond.asInstanceOf[Map[String, Any]]
          props.get(field) match {
            case Some(v) =>
              val x = v.toString.toDouble
              ops.forall {
                case ("lt", t) => x < t.toString.toDouble
                case ("lte", t) => x <= t.toString.toDouble
                case ("gt", t) => x > t.toString.toDouble
                case ("gte", t) => x >= t.toString.toDouble
                case ("eq", t) => x == t.toString.toDouble
                case _ => true
              }
            case None => false
          }
        }
      case None => true
    }
    collOk && bboxOk && dtOk && queryOk
  }
}
