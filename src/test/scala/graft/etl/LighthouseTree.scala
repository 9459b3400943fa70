package graft.etl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The tree reader that `Lighthouse.parse` replaced, kept as its oracle:
  * decode the bytes to a `String`, build a Jackson tree, read five paths. */
object LighthouseTree {
  private val mapper = new ObjectMapper

  def parse(bytes: Array[Byte]): Lighthouse.Metrics = {
    val root: JsonNode = mapper.readTree(new String(bytes, "UTF-8"))
    val audits = root.path("audits")
    def num(node: JsonNode): Option[Double] =
      if (node.isNumber) Some(node.doubleValue) else None
    def auditNum(key: String): Option[Double] =
      num(audits.path(key).path("numericValue"))
    Lighthouse.Metrics(
      lcpMs = auditNum("largest-contentful-paint"),
      cls = auditNum("cumulative-layout-shift"),
      inpMs = auditNum("interactive"),
      ttfbMs = auditNum("server-response-time"),
      perfScore = num(root.path("categories").path("performance").path("score")))
  }
}
