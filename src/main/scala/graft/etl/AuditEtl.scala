package graft.etl

import J._
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.sources.ZipCentral

/** The audit ETL: one client ZIP in → normalized doc + scores + manifest
  * out (reference parity: /root/reference/src/etl.js:93-453 `processZip`).
  *
  * This kernel is deliberately single-archive and pure (bytes → three JSON
  * documents): an audit ZIP is bounded (one client run), so the scale
  * dimension is the NUMBER of archives — see graft.etl.AuditPipeline for
  * the distributed mapping over listed, size-balanced archive slots.
  *
  * JS-semantics notes (all deliberate):
  *   - a field missing from a short CSV row reads as JS `undefined`:
  *     `String(undefined)` is `"undefined"` (truthy!) while
  *     `toNum(undefined)` is 0 — helpers jsStr/jsToNum mirror both;
  *   - `Number('')` is 0, so a digit-free cell toNums to 0 (finite);
  *   - `rows[0].status && rows[0].message` placeholder detection uses
  *     truthiness: missing keys and empty strings are both falsy.
  */
object AuditEtl {

  final case class Result(normalized: JObj, scores: JObj, manifest: JObj)

  /** JS `String(v ?? '')` + strip + `Number(...)`; NaN for non-numeric.
    * One scan keeps the `[0-9.-]` characters; the kept string is numeric
    * iff it matches `^-?(\d+\.?\d*|\.\d+)$`, i.e. after an optional leading
    * `-` it has no `-`, at most one `.` and at least one digit. */
  def jsToNum(v: Option[String]): Double = {
    val in = v.getOrElse("")
    val kept = new java.lang.StringBuilder(in.length)
    var digits = 0
    var dots = 0
    var innerMinus = false
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      if (c >= '0' && c <= '9') { digits += 1; kept.append(c) }
      else if (c == '.') { dots += 1; kept.append(c) }
      else if (c == '-') { if (kept.length > 0) innerMinus = true; kept.append(c) }
      i += 1
    }
    if (kept.length == 0) 0.0
    else if (digits > 0 && dots <= 1 && !innerMinus) java.lang.Double.parseDouble(kept.toString)
    else Double.NaN
  }

  /** JS `String(r[col])` — a missing field stringifies to "undefined". */
  private def jsStr(row: Map[String, String], col: String): String =
    row.getOrElse(col, "undefined")

  /** JS truthiness of a row field: present and non-empty. */
  private def truthy(row: Map[String, String], key: String): Boolean =
    row.get(key).exists(_.nonEmpty)

  /** `maxNum` (etl.js:88-91): max of finite toNums, else null. */
  def maxNum(rows: Seq[Map[String, String]], col: String): Option[Double] = {
    val xs = rows.map(r => jsToNum(r.get(col))).filterNot(_.isNaN)
    if (xs.nonEmpty) Some(xs.max) else None
  }

  private def jsRound(x: Double): Double = math.floor(x + 0.5)

  /** @param artifact debug-artifact sink (the reference's `Actor.setValue`
    *   calls inside processZip: ZIP_DEBUG.bin on magic-byte failure,
    *   etl.js:102-108; ahrefs_keywords_headers.json header dump,
    *   etl.js:119-121). Defaults to a no-op for callers that only need the
    *   three result documents.
    * @param log structured breadcrumb sink (the reference's `log.info`
    *   resolved-column lines, etl.js:128,158,315). Quiet by default — see
    *   EtlLog. */
  def processZip(zipBytes: Array[Byte], client: String, domain: String,
                 runDate: String,
                 artifact: (String, Array[Byte]) => Unit = (_, _) => (),
                 log: EtlLog = EtlLog()): Result = {
    if (!ZipCentral.isZip(zipBytes)) {
      artifact("ZIP_DEBUG.bin", zipBytes)
      throw new IllegalArgumentException(
        "Downloaded file is not a ZIP. Use a direct-download link (Drive: uc?export=download&id=FILE_ID).")
    }

    val zip = Zips.entries(zipBytes)
    val manifest = new JObj
    val out = AuditModel.emptyNormalized(client, domain, runDate)
    val prov = out.obj("provenance")
    val onsite = out.obj("onsite")
    val local = out.obj("local")

    /** readEntry (etl.js:81-87): records missing/present+size. */
    def readEntry(name: String): Option[Array[Byte]] =
      zip.get(name) match {
        case None =>
          manifest.set(name, JObj("status" -> str("missing")))
          None
        case Some(buf) =>
          manifest.set(name, JObj("status" -> str("present"),
            "size" -> num(buf.length.toDouble)))
          Some(buf)
      }

    def mEntry(name: String): JObj = manifest.obj(name)

    // ---------- Ahrefs Keywords (etl.js:115-151)
    readEntry("ahrefs_keywords.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        val headers = rows.head.keys.toSeq
        // Header dump so a mis-resolved position column is debuggable from
        // the KV store (etl.js:119-121).
        artifact("ahrefs_keywords_headers.json",
          JArr(headers.map(str)).toJson.getBytes("UTF-8"))
        val cols = new PickCol.Lookup(headers)
        val posCol = cols.pick(Seq("Current position"))
          .orElse(cols.pick(Seq("Previous position")))
        log.info("Ahrefs keywords: position column",
          "posCol" -> posCol.getOrElse("null"))
        posCol.foreach { pc =>
          val pos = rows.map(r => jsToNum(r.get(pc)))
            .filter(n => !n.isNaN && !n.isInfinite && n > 0)
          if (pos.nonEmpty) {
            val kw = onsite.obj("keywords")
            kw.set("top3", int(pos.count(_ <= 3)))
            kw.set("top10", int(pos.count(_ <= 10)))
            kw.set("top100", int(pos.count(_ <= 100)))
          }
        }
        prov.set("ahrefs", bool(true))
        mEntry("ahrefs_keywords.csv").set("rows", int(rows.length))
      } else mEntry("ahrefs_keywords.csv").set("status", str("partial"))
    }

    // ---------- Ahrefs Top Pages (etl.js:153-165)
    readEntry("ahrefs_top_pages.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        val urlCol = PickCol.pick(rows.head.keys.toSeq,
          Seq("Current URL", "url", "page url", "address"))
        log.info("Ahrefs top pages: URL column",
          "urlCol" -> urlCol.getOrElse("null"))
        val content = onsite.obj("content")
        if (content.get("pages_total") == JNull) {
          val total = urlCol match {
            case Some(uc) => rows.map(_.get(uc)).distinct.size
            case None => rows.length
          }
          content.set("pages_total", int(total))
        }
        prov.set("ahrefs", bool(true))
        mEntry("ahrefs_top_pages.csv").set("rows", int(rows.length))
      } else mEntry("ahrefs_top_pages.csv").set("status", str("partial"))
    }

    // ---------- Ahrefs Referring Domains (etl.js:167-181)
    readEntry("ahrefs_backlinks.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        val drCol = PickCol.pick(rows.head.keys.toSeq, Seq("dr", "domain rating"))
        val backlinks = out.obj("backlinks")
        backlinks.set("ref_domains", int(rows.length))
        drCol.foreach { dc =>
          val nums = rows.map(r => jsToNum(r.get(dc))).filterNot(n => n.isNaN || n.isInfinite)
          if (nums.nonEmpty) backlinks.set("dr", num(nums.sum / nums.length))
        }
        prov.set("ahrefs", bool(true))
        mEntry("ahrefs_backlinks.csv").set("rows", int(rows.length))
      } else mEntry("ahrefs_backlinks.csv").set("status", str("partial"))
    }

    // ---------- Ahrefs Site Audit nested zip (etl.js:184-213)
    readEntry("ahrefs_site_audit.zip").foreach { buf =>
      try {
        val inner = Zips.entries(buf)
        val issues = Seq(
          "4xx" -> Seq("Error-4XX_page.csv", "Error-404_page.csv"),
          "5xx" -> Seq("Error-5XX_page.csv"),
          "redirect_chains" -> Seq("Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"),
          "canonical" -> Seq("Error-indexable-Canonical_chain.csv",
            "Warning-Canonical_to_redirected_URL.csv"),
          "duplicate_titles" -> Seq("Warning-indexable-Title_tag_duplicate.csv"),
          "thin" -> Seq("Warning-indexable-Content_thin.csv"),
          "orphan_pages" -> Seq("Error-indexable-Orphan_page.csv"))
        val errs = onsite.obj("errors")
        for ((key, files) <- issues) {
          var c = 0
          for (f <- files; data <- inner.get(f)) c += SmartCsv.parse(data).length
          errs.set(key, num(errs.num(key).getOrElse(0.0) + c))
        }
        prov.set("ahrefs", bool(true))
        mEntry("ahrefs_site_audit.zip").set("status", str("full"))
      } catch {
        case NonFatal(e) =>
          mEntry("ahrefs_site_audit.zip").set("status", str("partial"))
          mEntry("ahrefs_site_audit.zip").set("note", str(e.toString))
      }
    }

    // ---------- Screaming Frog internal all (etl.js:216-230)
    readEntry("sf_internal_all.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        prov.set("screamingfrog", bool(true))
        mEntry("sf_internal_all.csv").set("rows", int(rows.length))
        val scCol = PickCol.pick(rows.head.keys.toSeq, Seq("status code", "status"))
        scCol.foreach { sc =>
          val codes = rows.map(r => jsToNum(r.get(sc))).filterNot(n => n.isNaN || n.isInfinite)
          val errs = onsite.obj("errors")
          errs.set("4xx", num(errs.num("4xx").getOrElse(0.0) +
            codes.count(n => n >= 400 && n < 500)))
          errs.set("5xx", num(errs.num("5xx").getOrElse(0.0) +
            codes.count(_ >= 500)))
        }
        val content = onsite.obj("content")
        if (content.get("pages_total") == JNull)
          content.set("pages_total", int(rows.length))
      } else mEntry("sf_internal_all.csv").set("status", str("partial"))
    }

    // ---------- Screaming Frog structured data summary (etl.js:233-250)
    readEntry("sf_structured_data.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        val sch = onsite.obj("schema")
        Seq("organization", "localbusiness", "service", "faq", "review")
          .foreach(k => sch.set(k, bool(false)))
        mEntry("sf_structured_data.csv").set("rows", int(rows.length))
        mEntry("sf_structured_data.csv").set("note",
          str("Structured data summary detected. For per-type booleans, export Reports → Structured Data → Extracted Structured Data."))
        prov.set("screamingfrog", bool(true))
      }
    }

    // ---------- Duplicates / Images, info only (etl.js:253-256)
    readEntry("sf_duplicates.csv").foreach { buf =>
      mEntry("sf_duplicates.csv").set("rows", int(SmartCsv.parse(buf).length))
    }
    readEntry("sf_images.csv").foreach { buf =>
      mEntry("sf_images.csv").set("rows", int(SmartCsv.parse(buf).length))
    }

    // ---------- Lighthouse JSONs (etl.js:258-304)
    val lhFiles = Seq("lighthouse_home.json", "lighthouse_service.json",
      "lighthouse_city.json")
    val lh = mutable.ArrayBuffer.empty[Lighthouse.Metrics]
    for (f <- lhFiles) {
      zip.get(f) match {
        case None => manifest.set(f, JObj("status" -> str("missing")))
        case Some(buf) =>
          try {
            lh += Lighthouse.parse(buf)
            manifest.set(f, JObj("status" -> str("full")))
            prov.set("lighthouse", bool(true))
          } catch {
            case NonFatal(e) =>
              manifest.set(f, JObj("status" -> str("partial"),
                "note" -> str(e.toString)))
          }
      }
    }
    if (lh.nonEmpty) {
      val cwv = onsite.obj("cwv")
      def setP75(key: String, vals: Seq[Double]): Unit =
        cwv.set(key, Lighthouse.p75(vals).map(JNum).getOrElse(missing))
      setP75("lcp_p75", lh.flatMap(_.lcpMs).toSeq)
      setP75("cls_p75", lh.flatMap(_.cls).toSeq)
      setP75("inp_p75", lh.flatMap(_.inpMs).toSeq)
      cwv.set("pass_rate",
        Lighthouse.passRate(lh.toSeq).map(JNum).getOrElse(missing))
    }

    // ---------- BrightLocal Ranks (etl.js:307-328)
    readEntry("brightlocal_ranks.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        prov.set("brightlocal", bool(true))
        mEntry("brightlocal_ranks.csv").set("rows", int(rows.length))
        val posCol = PickCol.pick(rows.head.keys.toSeq,
          Seq("position", "rank", "serp position", "pos"))
        log.info("BL ranks: position column",
          "posCol" -> posCol.getOrElse("null"))
        posCol.foreach { pc =>
          val posVals = rows.map(r => jsToNum(r.get(pc)))
            .filter(n => !n.isNaN && !n.isInfinite && n > 0)
          val rank = local.obj("rank")
          if (posVals.nonEmpty) {
            val avg = posVals.sum / posVals.length
            rank.set("avg_pos", num(jsRound(avg * 10) / 10))
            rank.set("pct_top3", num(posVals.count(_ <= 3).toDouble / posVals.length))
            rank.set("keywords_tracked", int(posVals.length))
          } else rank.set("keywords_tracked", int(rows.length))
        }
      }
    }

    // ---------- BrightLocal Citations (etl.js:332-366)
    readEntry("brightlocal_citations.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        prov.set("brightlocal", bool(true))
        mEntry("brightlocal_citations.csv").set("rows", int(rows.length))
        val cols = new PickCol.Lookup(rows.head.keys.toSeq)
        val statusCol = cols.pick(Seq("Status"))
        val gStatusCol = cols.pick(Seq("General Status"))
        val linkCol = cols.pick(Seq("Citation Link"))
        var good = 0
        var total = 0
        for (r <- rows) {
          val s = statusCol.map(c => jsStr(r, c).toLowerCase).getOrElse("")
          val gs = gStatusCol.map(c => jsStr(r, c).toLowerCase).getOrElse("")
          val link = linkCol.map(c => jsStr(r, c).trim).getOrElse("")
          val looksLive =
            s.contains("live") || s.contains("present") || s.contains("ok") ||
            gs.contains("live") || gs.contains("present") || gs.contains("ok") ||
            link.nonEmpty
          if (s.nonEmpty || gs.nonEmpty || link.nonEmpty) {
            total += 1
            if (looksLive) good += 1
          }
        }
        if (total > 0)
          local.obj("citations").set("consistency", num(good.toDouble / total))
      }
    }

    // ---------- BrightLocal Reviews, often placeholder (etl.js:369-379)
    readEntry("brightlocal_reviews.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty && !(truthy(rows.head, "status") && truthy(rows.head, "message"))) {
        prov.set("brightlocal", bool(true))
        mEntry("brightlocal_reviews.csv").set("rows", int(rows.length))
      } else {
        mEntry("brightlocal_reviews.csv").set("status", str("placeholder"))
        mEntry("brightlocal_reviews.csv").set("note", str("login_required"))
      }
    }

    // ---------- BL/GBP public listing (etl.js:382-397)
    readEntry("brightlocal_gbp_insights.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      if (rows.nonEmpty) {
        val cols = new PickCol.Lookup(rows.head.keys.toSeq)
        val colReviews = cols.pick(Seq("review count", "reviews", "reviews_total"))
        val colRating = cols.pick(Seq("star rating", "rating", "reviews_average_rating"))
        val colPhotos = cols.pick(Seq("photos", "photos_total"))
        val reviews = local.obj("reviews")
        val gbp = local.obj("gbp")
        colReviews.foreach(c =>
          reviews.set("count_total", maxNum(rows, c).map(JNum).getOrElse(JNull)))
        colRating.foreach(c =>
          reviews.set("avg_rating", maxNum(rows, c).map(JNum).getOrElse(JNull)))
        colPhotos.foreach(c =>
          gbp.set("photos_total", maxNum(rows, c).map(JNum).getOrElse(JNull)))
        prov.set("brightlocal", bool(true))
        manifest.set("brightlocal_gbp_insights.csv", JObj(
          "status" -> str("partial"), "rows" -> int(rows.length),
          "note" -> str("public listing only; true Insights missing")))
      }
    }

    // ---------- GBP categories/photos (etl.js:400-421)
    readEntry("gbp_categories.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      val prim = rows
        .filter(r => jsStr(r, "category_type").toLowerCase == "primary")
        .flatMap(_.get("category_name")).filter(_.nonEmpty)
      val gbp = local.obj("gbp")
      gbp.set("primary_category",
        if (prim.nonEmpty) str(prim.head) else JNull)
      gbp.set("secondary_categories", JArr(rows
        .filter(r => jsStr(r, "category_type").toLowerCase == "secondary")
        .flatMap(_.get("category_name")).filter(_.nonEmpty).map(str)))
      prov.set("gbp_public", bool(true))
      mEntry("gbp_categories.csv").set("rows", int(rows.length))
    }

    readEntry("gbp_photos.csv").foreach { buf =>
      val rows = SmartCsv.parse(buf)
      rows.find(r => jsStr(r, "photo_type").toLowerCase == "total").foreach { totalRow =>
        local.obj("gbp").set("photos_total", JNum(jsToNum(totalRow.get("count"))))
      }
      prov.set("gbp_public", bool(true))
      mEntry("gbp_photos.csv").set("rows", int(rows.length))
    }

    // ---------- Login-required placeholders (etl.js:424-434)
    val placeholderNames = Seq(
      "surfer_page_queue.csv", "gsc_queries_28d.csv", "gsc_pages_28d.csv",
      "ga4_pages.csv", "ga4_conversions.csv", "ga4_channels.csv",
      "leadsnap_leads.csv", "leadsnap_calls.csv", "leadsnap_reviews.csv")
    // GSC/GA4 presence flags (etl.js:437-448) use the same test on the same
    // files, so they are set here from the one parse. The provenance keys
    // already exist (AuditModel), so the JSON key order is unchanged.
    for (name <- placeholderNames) {
      zip.get(name) match {
        case None => manifest.set(name, JObj("status" -> str("missing")))
        case Some(buf) =>
          val rows = SmartCsv.parse(buf)
          if (rows.nonEmpty && !(truthy(rows.head, "status") && truthy(rows.head, "message"))) {
            manifest.set(name, JObj("status" -> str("full"), "rows" -> int(rows.length)))
            if (name.startsWith("gsc_")) prov.set("gsc", str("present"))
            else if (name.startsWith("ga4_")) prov.set("ga4", str("present"))
          } else
            manifest.set(name, JObj("status" -> str("placeholder"),
              "note" -> str("access_required_or_empty")))
      }
    }

    Result(out, Scoring.computeScores(out), manifest)
  }
}
