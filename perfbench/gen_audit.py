"""Deterministic audit-archive generator for the `audit-bulk` and
`audit-many` workloads, with independently computed expected values.

Each archive is a client ZIP named `client__domain__runDate.zip`, laid out
the way the reference actor expects its exports (FIXTURES.md at the
repository root). The CSVs cover every decoding branch of the audit
kernel's CSV reader: UTF-16LE with BOM and TAB, UTF-16LE without BOM, UTF-8
with `,` or `;`, and quoted fields with embedded delimiters and newlines.

For every archive the generator records what the three output documents
must contain. It computes those values itself, from the numbers it wrote
and the rules the reference documents (JS `Number` coercion, lower nearest
rank p75, the scorecard in `scoring.js`); it never calls the program.
`expected[name]` maps a document name to `{"a/b/c": value}`.
"""
import io
import json
import math
import os
import random
import zipfile

WORDS = ["plumber", "boiler", "heating", "drain", "repair", "emergency",
         "london", "leak", "tap", "pipe", "radiator", "bathroom", "kitchen",
         "install", "service", "cheap", "best", "local", "24h", "gas"]
IGNORED_AUDITS = ["first-contentful-paint", "speed-index", "total-blocking-time",
                  "max-potential-fid", "render-blocking-resources",
                  "unused-css-rules", "unused-javascript", "modern-image-formats",
                  "uses-optimized-images", "uses-text-compression",
                  "uses-responsive-images", "efficient-animated-content",
                  "duplicated-javascript", "legacy-javascript", "dom-size",
                  "bootup-time", "mainthread-work-breakdown", "font-display",
                  "network-requests", "network-rtt", "third-party-summary"]
SITE_AUDIT_FILES = {
    "4xx": ["Error-4XX_page.csv", "Error-404_page.csv"],
    "5xx": ["Error-5XX_page.csv"],
    "redirect_chains": ["Error-Redirect_chain.csv", "Warning-3XX_redirect.csv"],
    "canonical": ["Error-indexable-Canonical_chain.csv"],
    "duplicate_titles": ["Warning-indexable-Title_tag_duplicate.csv"],
    "thin": ["Warning-indexable-Content_thin.csv"],
    "orphan_pages": ["Error-indexable-Orphan_page.csv"],
}
CODES = [200] * 40 + [301] * 4 + [404] * 3 + [410, 500, 500, 503]
FILLER = "@filler@"
ERROR_KEYS = ["4xx", "5xx", "redirect_chains", "canonical", "thin",
              "duplicate_titles", "orphan_pages"]


class Rng(random.Random):
    """random.Random with cheaper draws for the per-row hot loops."""

    def ri(self, a, b):
        return a + int(self.random() * (b - a + 1))

    def pick(self, seq):
        return seq[int(self.random() * len(seq))]


def utf16_bom(text):
    return b"\xff\xfe" + text.encode("utf-16-le")


def utf16(text):
    return text.encode("utf-16-le")


def utf8(text):
    return text.encode("utf-8")


def zip_bytes(entries):
    buf = io.BytesIO()
    # Fastest deflate level: inflating costs the kernel about the same at
    # any level, and the generator's time counts against every run.
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for name, data in entries:
            # A fixed entry time keeps the archive bytes a function of the seed.
            z.writestr(zipfile.ZipInfo(name, date_time=(2026, 10, 1, 0, 0, 0)), data,
                       compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)
    return buf.getvalue()


def csv_text(header, rows, delim):
    return "\n".join([delim.join(header)] + [delim.join(r) for r in rows]) + "\n"


def js_round(x):
    """JS Math.round: half-up toward +Infinity."""
    return math.floor(x + 0.5)


def clamp01(x):
    return max(0.0, min(1.0, x))


def p75(vals):
    """Lower nearest rank: sorted(v)[floor(0.75 * (n - 1))]."""
    s = sorted(vals)
    return s[math.floor(0.75 * (len(s) - 1))] if s else "missing"


def scores(doc):
    """scoring.js: coverage-weighted means of the available components."""
    def agg(parts):
        used, acc = 0.0, 0.0
        for w, raw in parts:
            if raw is not None:
                used += w
                acc += w * raw
        return js_round((acc / used) * 1000) / 10 if used != 0 else 0.0

    top10, top100 = doc["top10"], doc["top100"]
    kw = None if top10 is None else min(top10 / max(top100 or 1, 1), 1.0)
    err = sum(doc["errors"][k] for k in ERROR_KEYS)
    health = clamp01(1 - (err / (doc["pages_total"] or 100)) / 0.5)
    cwv = None if doc["pass_rate"] == "missing" else doc["pass_rate"]
    # Weights in scorecard order: gsc_clicks 30 and indexed_valid 15 are
    # never available in an audit archive.
    oss = agg([(20.0, kw), (20.0, health), (15.0, cwv)])
    avg_pos = doc["avg_pos"] or 20
    rating = doc["avg_rating"]
    lss = agg([(40.0, clamp01(1 - (avg_pos - 1) / 19)), (25.0, doc["pct_top3"]),
               (15.0, doc["consistency"]),
               (10.0, None if rating is None else clamp01((rating - 3.5) / 1.5))])
    return oss, lss


class Archive:
    """Builds one archive's entries and tracks what the documents must say."""

    def __init__(self, rng, domain):
        self.rng = rng
        self.domain = domain
        self.entries = []
        self.doc = {"top3": None, "top10": None, "top100": None,
                    "ref_domains": None, "dr": None, "pages_total": None,
                    "errors": {k: 0 for k in ERROR_KEYS},
                    "lcp_p75": "missing", "cls_p75": "missing",
                    "inp_p75": "missing", "pass_rate": "missing",
                    "avg_pos": None, "pct_top3": None, "keywords_tracked": None,
                    "consistency": None, "count_total": None, "avg_rating": None,
                    "primary_category": None, "secondary_categories": [],
                    "photos_total": None}
        self.manifest = {}

    def add(self, name, data):
        self.entries.append((name, data))

    def keywords(self, n):
        r = self.rng
        rows, pos = [], []
        for i in range(n):
            k = r.random()
            if k < 0.03:
                cell = "n/a"        # Number('') is 0: not a ranking
            elif k < 0.05:
                cell = "0"
            else:
                p = r.ri(1, 150)
                cell = str(p)
                pos.append(p)
            rows.append((f"{r.pick(WORDS)} {r.pick(WORDS)} {i}", cell,
                         str(r.ri(0, 9000)), str(r.ri(1, 120))))
        self.add("ahrefs_keywords.csv", utf16_bom(csv_text(
            ["Keyword", "Current position", "Volume", "Previous position"], rows, "\t")))
        if pos:
            self.doc["top3"] = sum(p <= 3 for p in pos)
            self.doc["top10"] = sum(p <= 10 for p in pos)
            self.doc["top100"] = sum(p <= 100 for p in pos)
        self.manifest["ahrefs_keywords.csv/rows"] = n

    def top_pages(self, n):
        r = self.rng
        span = max(n * 3 // 4, 1)
        urls = [f"https://{self.domain}/p/{r.randrange(span)}" for _ in range(n)]
        rows = [(u, str(r.ri(0, 5000)), str(r.ri(0, 300))) for u in urls]
        self.add("ahrefs_top_pages.csv", utf16(csv_text(
            ["Current URL", "Traffic", "Keywords"], rows, "\t")))
        self.doc["pages_total"] = len(set(urls))

    def backlinks(self, n):
        r = self.rng
        rows, drs = [], []
        for i in range(n):
            if r.random() < 0.02:
                cell, dr = "junk", 0   # Number('') is 0, and 0 is finite
            else:
                dr = r.ri(0, 100)
                cell = str(dr)
            drs.append(dr)
            name = f'"ref{i}, {r.pick(WORDS)}.com"' if i % 7 == 0 else f"ref{i}.com"
            rows.append((name, cell, str(r.ri(1, 400))))
        self.add("ahrefs_backlinks.csv", utf8(csv_text(
            ["Referring domain", "Domain Rating", "Dofollow links"], rows, ",")))
        self.doc["ref_domains"] = n
        self.doc["dr"] = sum(drs) / len(drs)

    def site_audit(self, n):
        r = self.rng
        inner = []
        for key, files in SITE_AUDIT_FILES.items():
            for f in files:
                if r.random() < 0.8:
                    k = r.ri(1, n)
                    rows = [(f"https://{self.domain}/i/{j}", str(r.pick([301, 404, 500])))
                            for j in range(k)]
                    inner.append((f, utf8(csv_text(["URL", "HTTP status code"], rows, ","))))
                    self.doc["errors"][key] += k
        self.add("ahrefs_site_audit.zip", zip_bytes(inner))
        self.manifest["ahrefs_site_audit.zip/status"] = "full"

    def nested_garbage(self):
        self.add("ahrefs_site_audit.zip", b"NOT AN INNER ZIP")
        self.manifest["ahrefs_site_audit.zip/status"] = "partial"

    def screaming_frog(self, n):
        r = self.rng
        rows = []
        for i in range(n):
            code = CODES[int(r.random() * len(CODES))]
            if code >= 500:
                self.doc["errors"]["5xx"] += 1
            elif code >= 400:
                self.doc["errors"]["4xx"] += 1
            title = f'"{r.pick(WORDS)} page {i}\nsecond line"' if i % 5 == 0 \
                else f"{r.pick(WORDS)} page {i}"
            rows.append((f"https://{self.domain}/s/{i}", str(code), title,
                         str(r.ri(50, 3000))))
        self.add("sf_internal_all.csv", utf8(csv_text(
            ["Address", "Status Code", "Title 1", "Word Count"], rows, ";")))
        if self.doc["pages_total"] is None:
            self.doc["pages_total"] = n
        sd = [(f"/s/{i}", str(r.ri(0, 3)), str(r.ri(0, 5)), "2", "2")
              for i in range(max(n // 20, 1))]
        self.add("sf_structured_data.csv", utf8(csv_text(
            ["Address", "Errors", "Warnings", "Total Types", "Unique Types"], sd, ",")))
        dup = [(f"/s/{i}", f"/s/{i + 1}") for i in range(max(n // 10, 1))]
        self.add("sf_duplicates.csv", utf8(csv_text(["Address", "Duplicate"], dup, ",")))
        imgs = [(f"/img/{i}.jpg", f'"alt {i}, {r.pick(WORDS)}\nwrapped ""caption"""',
                 str(r.ri(1, 900))) for i in range(n // 2)]
        self.add("sf_images.csv", utf8(csv_text(["Image", "Alt Text", "Size"], imgs, ",")))
        self.manifest["sf_images.csv/rows"] = len(imgs)

    def lighthouse(self, filler):
        r = self.rng
        metrics = []
        for name in ["lighthouse_home.json", "lighthouse_service.json",
                     "lighthouse_city.json"]:
            m = {"largest-contentful-paint": r.ri(800, 4200) + 0.5,
                 "cumulative-layout-shift": r.ri(0, 300) / 1000,
                 "interactive": float(r.ri(50, 400))}
            if name == "lighthouse_city.json" and r.random() < 0.3:
                del m["interactive"]
            audits = {k: {"id": k, "score": 0.5, "numericValue": v, "details": FILLER}
                      for k, v in m.items()}
            audits["server-response-time"] = {"numericValue": r.ri(50, 900)}
            for a in IGNORED_AUDITS:
                audits[a] = {"id": a, "score": 0.9, "numericValue": r.random(),
                             "details": FILLER}
            doc = {"lighthouseVersion": "11.0.0", "requestedUrl": f"https://{self.domain}/",
                   "categories": {"performance": {"score": r.ri(20, 99) / 100}},
                   "audits": audits}
            self.add(name, utf8(json.dumps(doc).replace(f'"{FILLER}"', filler)))
            metrics.append(m)
        for key, audit in [("lcp_p75", "largest-contentful-paint"),
                           ("cls_p75", "cumulative-layout-shift"),
                           ("inp_p75", "interactive")]:
            self.doc[key] = p75([m[audit] for m in metrics if audit in m])
        complete = [m for m in metrics if len(m) == 3]
        if complete:
            ok = sum(m["largest-contentful-paint"] <= 2500 and
                     m["cumulative-layout-shift"] <= 0.1 and
                     m["interactive"] <= 200 for m in complete)
            self.doc["pass_rate"] = ok / len(complete)

    def brightlocal(self, n):
        r = self.rng
        rows, pos = [], []
        for i in range(n):
            k = r.random()
            cell = "na" if k < 0.05 else str(r.ri(1, 25))
            if cell != "na":
                pos.append(int(cell))
            rows.append((f"{r.pick(WORDS)} {i}", cell, "London"))
        self.add("brightlocal_ranks.csv", utf8(csv_text(
            ["Keyword", "Position", "Location"], rows, ",")))
        if pos:
            self.doc["avg_pos"] = js_round(sum(pos) / len(pos) * 10) / 10
            self.doc["pct_top3"] = sum(p <= 3 for p in pos) / len(pos)
            self.doc["keywords_tracked"] = len(pos)
        else:
            self.doc["keywords_tracked"] = n

        cit, good, total = [], 0, 0
        for i in range(max(n // 2, 2)):
            s = r.pick(["Live", "Present", "OK", "Dead", "Pending", ""])
            gs = r.pick(["OK", "", "", "Missing"])
            link = r.pick(["", "", f"https://dir{i}.example/biz"])
            if s or gs or link:
                total += 1
                lo, glo = s.lower(), gs.lower()
                live = any(w in lo or w in glo for w in ("live", "present", "ok")) or link
                good += 1 if live else 0
            cit.append((f"dir{i}", s, gs, link))
        self.add("brightlocal_citations.csv", utf8(csv_text(
            ["Site", "Status", "General Status", "Citation Link"], cit, ",")))
        if total:
            self.doc["consistency"] = good / total

        reviews = [(f"reviewer {i}", str(r.ri(1, 5)), "2026-09-01")
                   for i in range(max(n // 4, 1))]
        self.add("brightlocal_reviews.csv", utf8(csv_text(
            ["Reviewer", "Rating", "Date"], reviews, ",")))

        ins = [(str(r.ri(10, 500)), f"{r.ri(30, 50) / 10}", str(r.ri(1, 90)))
               for _ in range(3)]
        self.add("brightlocal_gbp_insights.csv", utf8(csv_text(
            ["Reviews", "Star Rating", "Photos"], ins, ",")))
        self.doc["count_total"] = max(int(a) for a, _, _ in ins)
        self.doc["avg_rating"] = max(float(b) for _, b, _ in ins)
        self.doc["photos_total"] = max(int(c) for _, _, c in ins)

    def gbp(self):
        r = self.rng
        prim = f"{r.pick(WORDS).title()} service"
        secs = [f"{w} contractor" for w in r.sample(WORDS, r.ri(0, 3))]
        rows = [("primary", prim)] + [("secondary", s) for s in secs] + [("other", "junk")]
        self.add("gbp_categories.csv", utf8(csv_text(
            ["category_type", "category_name"], rows, ",")))
        self.doc["primary_category"] = prim
        self.doc["secondary_categories"] = secs
        total = r.ri(5, 300)
        self.add("gbp_photos.csv", utf8(csv_text(
            ["photo_type", "count"], [("interior", "4"), ("Total", str(total))], ",")))
        self.doc["photos_total"] = total

    def analytics(self, n):
        r = self.rng
        q = [(f"{r.pick(WORDS)} {i}", str(r.ri(0, 90)), str(r.ri(90, 900)))
             for i in range(n)]
        self.add("gsc_queries_28d.csv", utf8(csv_text(["query", "clicks", "impressions"], q, ",")))
        self.add("gsc_pages_28d.csv", utf8(csv_text(["page", "clicks", "impressions"],
                                                    [(f"/p/{a}", b, c) for a, b, c in q], ",")))
        self.add("ga4_pages.csv", utf8("status,message\n403,access denied\n"))
        self.add("ga4_channels.csv", utf8(csv_text(
            ["channel", "sessions"], [("organic", str(r.ri(1, 999))),
                                      ("direct", str(r.ri(1, 999)))], ",")))

    def expected(self):
        d = self.doc
        oss, lss = scores(d)
        norm = {"onsite/keywords/top3": d["top3"], "onsite/keywords/top10": d["top10"],
                "onsite/keywords/top100": d["top100"],
                "backlinks/ref_domains": d["ref_domains"], "backlinks/dr": d["dr"],
                "onsite/content/pages_total": d["pages_total"],
                "local/rank/avg_pos": d["avg_pos"], "local/rank/pct_top3": d["pct_top3"],
                "local/rank/keywords_tracked": d["keywords_tracked"],
                "local/citations/consistency": d["consistency"],
                "local/reviews/count_total": d["count_total"],
                "local/reviews/avg_rating": d["avg_rating"],
                "local/gbp/primary_category": d["primary_category"],
                "local/gbp/secondary_categories": d["secondary_categories"],
                "local/gbp/photos_total": d["photos_total"]}
        for k in ERROR_KEYS:
            norm[f"onsite/errors/{k}"] = d["errors"][k]
        for k in ["lcp_p75", "cls_p75", "inp_p75", "pass_rate"]:
            norm[f"onsite/cwv/{k}"] = d[k]
        return {"normalized": norm, "scores": {"oss": oss, "lss": lss},
                "manifest": dict(self.manifest)}


def filler_details(rng, n_items):
    """An audit `details` table the kernel never reads, as JSON text; it
    gives the Lighthouse files their realistic size."""
    return json.dumps({
        "type": "table", "headings": [{"key": "url"}, {"key": "wastedMs"}],
        "items": [{"url": f"https://cdn.example/asset/{i}.js",
                   "wastedMs": rng.ri(0, 900), "totalBytes": rng.ri(1, 99999)}
                  for i in range(n_items)]})


def build(kind, rng, domain, rows, filler):
    a = Archive(rng, domain)
    if kind in ("full", "partial", "minimal"):
        a.keywords(rows)
    if kind == "full":
        a.top_pages(rows)
        a.backlinks(rows)
        a.site_audit(max(rows // 20, 2))
        a.screaming_frog(rows)
        a.lighthouse(filler)
        a.brightlocal(max(rows // 4, 4))
        a.gbp()
        a.analytics(max(rows // 4, 2))
    if kind == "partial":
        a.nested_garbage()
    return zip_bytes(a.entries), a.expected()


def generate(out, workload, seed):
    """Writes the workload's archives under `out` and returns
    {archive file name: expected values}."""
    os.makedirs(out, exist_ok=True)
    rng = Rng(f"{workload}:{seed}")
    if workload == "audit-bulk":
        # Few archives, large exports: per-archive decode and reduction
        # dominate. Sizes follow a fixed schedule so every seed does the
        # same amount of work; the seed only changes the content.
        plan = [("full", 3000 + i % 4 * 500) for i in range(36)]
        filler = filler_details(rng, 90)
    elif workload == "audit-many":
        # Many fixture-sized archives: fixed per-archive costs dominate.
        kinds = ["full"] * 5 + ["minimal"] * 2 + ["partial", "empty"]
        plan = [(kinds[i % len(kinds)], 10 + i * 7 % 31) for i in range(1200)]
        filler = filler_details(rng, 3)
    else:
        raise ValueError(f"unknown audit workload {workload}")
    expected = {}
    for i, (kind, rows) in enumerate(plan):
        domain = f"site{i}.example"
        data, exp = build(kind, rng, domain, rows, filler)
        name = f"client{i}__{domain}__2026-10-{1 + i % 28:02d}.zip"
        with open(os.path.join(out, name), "wb") as f:
            f.write(data)
        expected[name] = exp
    return expected
