package graft.etl

import scala.collection.mutable

/** The normalized-audit document (reference parity:
  * /root/reference/src/schema.js:1-38 `emptyNormalized`) plus the JSON
  * value model used to serialize it byte-compatibly with
  * `JSON.stringify`.
  *
  * JS values here are `number | string | boolean | null | "missing" |
  * array` — modeled as a tiny ADT (`J`) rather than Option soup, because
  * field-by-field the reference distinguishes `null` from the literal
  * string `"missing"` and serialization must preserve exactly which one a
  * stage wrote.
  */
object J {
  sealed trait V {
    /** Appends this value's JSON to `sb`; containers recurse into the same
      * builder, so a document serializes without intermediate strings. */
    def writeTo(sb: java.lang.StringBuilder): Unit
    def toJson: String = {
      val sb = new java.lang.StringBuilder
      writeTo(sb)
      sb.toString
    }
  }
  case object JNull extends V {
    def writeTo(sb: java.lang.StringBuilder): Unit = sb.append("null")
  }
  final case class JBool(b: Boolean) extends V {
    def writeTo(sb: java.lang.StringBuilder): Unit = sb.append(b)
  }
  final case class JStr(s: String) extends V {
    def writeTo(sb: java.lang.StringBuilder): Unit = JStr.quote(s, sb)
  }
  object JStr {
    private val Hex = "0123456789abcdef"
    /** `s` as a JSON string literal: quote, backslash and the controls
      * below 0x20 escaped (`\n`, `\r`, `\t` short, the rest `\u00xx`),
      * everything else, lone surrogates included, copied as is. */
    def quote(s: String, sb: java.lang.StringBuilder): Unit = {
      sb.append('"')
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
          case c => sb.append(c)
        }
        i += 1
      }
      sb.append('"')
    }
  }
  /** JS number: integral doubles print without a decimal point
    * (`JSON.stringify(24.0)` is `"24"`), NaN/Infinity serialize as null. */
  final case class JNum(d: Double) extends V {
    def writeTo(sb: java.lang.StringBuilder): Unit = sb.append(
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString)
  }
  final case class JArr(items: Seq[V]) extends V {
    def writeTo(sb: java.lang.StringBuilder): Unit = {
      sb.append('[')
      var sep = ""
      items.foreach { v => sb.append(sep); sep = ","; v.writeTo(sb) }
      sb.append(']')
    }
  }
  /** Insertion-ordered object, mutable in place like the reference's doc. */
  final class JObj extends V {
    private val fields = mutable.LinkedHashMap.empty[String, V]
    def set(key: String, v: V): JObj = { fields(key) = v; this }
    def get(key: String): V = fields(key)
    def opt(key: String): Option[V] = fields.get(key)
    def obj(key: String): JObj = fields(key).asInstanceOf[JObj]
    def num(key: String): Option[Double] = fields(key) match {
      case JNum(d) => Some(d); case _ => None
    }
    def writeTo(sb: java.lang.StringBuilder): Unit = {
      sb.append('{')
      var sep = ""
      fields.foreach { case (k, v) =>
        sb.append(sep); sep = ","
        JStr.quote(k, sb)
        v.writeTo(sb.append(':'))
      }
      sb.append('}')
    }
  }
  object JObj {
    def apply(kvs: (String, V)*): JObj = {
      val o = new JObj; kvs.foreach { case (k, v) => o.set(k, v) }; o
    }
  }
  val missing: V = JStr("missing")
  def num(d: Double): V = JNum(d)
  def int(i: Int): V = JNum(i.toDouble)
  def str(s: String): V = JStr(s)
  def bool(b: Boolean): V = JBool(b)
}

object AuditModel {
  import J._

  /** /root/reference/src/schema.js:1-38, field for field, in order. */
  def emptyNormalized(client: String, domain: String, runDate: String): JObj =
    JObj(
      "meta" -> JObj("client" -> str(client), "domain" -> str(domain),
        "run_date" -> str(runDate)),
      "onsite" -> JObj(
        "site_health" -> JNull,
        "errors" -> JObj("4xx" -> int(0), "5xx" -> int(0),
          "redirect_chains" -> int(0), "canonical" -> int(0), "thin" -> int(0),
          "duplicate_titles" -> int(0), "orphan_pages" -> int(0)),
        "meta" -> JObj("missing_title" -> int(0), "missing_description" -> int(0),
          "weak_title" -> int(0)),
        "schema" -> JObj("organization" -> bool(false), "localbusiness" -> bool(false),
          "service" -> bool(false), "faq" -> bool(false), "review" -> bool(false)),
        "cwv" -> JObj("lcp_p75" -> missing, "cls_p75" -> missing,
          "inp_p75" -> missing, "pass_rate" -> missing),
        "content" -> JObj("pages_total" -> JNull, "service_pages" -> JNull,
          "location_pages" -> JNull, "blog_posts" -> JNull,
          "content_gap_terms" -> JNull),
        "keywords" -> JObj("top3" -> JNull, "top10" -> JNull, "top100" -> JNull)),
      "local" -> JObj(
        "rank" -> JObj("avg_pos" -> JNull, "pct_top3" -> JNull,
          "keywords_tracked" -> JNull),
        "citations" -> JObj("consistency" -> JNull, "dupes" -> JNull,
          "top_dirs_ok" -> JNull, "top_dirs_total" -> JNull),
        "reviews" -> JObj("avg_rating" -> JNull, "count_total" -> JNull,
          "count_90d" -> JNull, "response_rate" -> JNull),
        "gbp" -> JObj("primary_category" -> JNull,
          "secondary_categories" -> JArr(Nil), "photos_total" -> JNull,
          "insights_calls" -> missing, "insights_directions" -> missing,
          "insights_website_clicks" -> missing)),
      "backlinks" -> JObj("ref_domains" -> JNull, "new_90d" -> JNull,
        "lost_90d" -> JNull, "dr" -> JNull, "anchor_brand_pct" -> JNull),
      "provenance" -> JObj("ahrefs" -> bool(false), "screamingfrog" -> bool(false),
        "lighthouse" -> bool(false), "brightlocal" -> bool(false),
        "gbp_public" -> bool(false), "gsc" -> missing, "ga4" -> missing,
        "leadsnap" -> missing))
}
