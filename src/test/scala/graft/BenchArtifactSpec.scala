package graft

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import Bench._

/** The bench artifact contract: every line's field names in order, and the
  * artifact model re-serializing the committed sweep and slope artifacts
  * (written by the earlier string-built Bench) byte for byte. */
class BenchArtifactSpec extends AnyFunSuite {

  private def fields(json: String): Seq[String] =
    Json.readTree(json).fieldNames().asScala.toSeq
  private def nums(n: JsonNode): ListMap[String, Double] =
    ListMap(n.fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toSeq: _*)
  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def stampOf(n: JsonNode) = Stamp(n.get("other_graft_jvms").asInt,
    n.get("lock_acquired").asBoolean, n.get("lock_wait_s").asDouble)

  private val stamp = Stamp(0, lock_acquired = true, 0.0)
  private val sweep = Sweep(value = 1.5, era = 1.0, era_raw = 1.0,
    era_warn = Some("era_outside_notes_band"), queries = ListMap("q09_topk" -> 1.5),
    cold = ListMap("q09_topk" -> 2.0), ratio = ListMap("q09_topk" -> 3.0),
    ratio_norm = ListMap("q09_topk" -> 3.0), regressed = Seq("q09_topk"),
    adjudication = ListMap("q09_topk" -> Adjudication(Seq(1.0, 1.5), Seq(2, 2), 1.5, "confirmed")),
    unbaselined = Nil, materializes = Nil, failed = Nil, sf = "sf0.1")

  test("full, compact and perq lines carry their fields in order") {
    val head = Seq("metric", "value", "unit", "run", "exec")
    val era = Seq("era", "era_raw", "era_warn")
    val flags = Seq("regressed", "unbaselined", "failed")
    val full = Full(stamp, sweep).toJson
    assert(fields(full) == Seq("other_graft_jvms", "lock_acquired", "lock_wait_s") ++
      head ++ era ++ Seq("queries", "cold", "ratio", "ratio_norm", "regressed",
        "adjudication", "unbaselined", "materializes", "failed", "sf"))
    assert(fields(Json.readTree(full).get("adjudication").get("q09_topk").toString) ==
      Seq("times", "jobs", "warm", "verdict"))
    assert(fields(compactOf(sweep, 214).toJson) == head ++ Seq("compact", "n_queries") ++
      era ++ flags ++ Seq("queries", "queries_note", "sf"))
    assert(fields(perqOf(sweep, 214).toJson) == head ++ Seq("perq", "n_queries") ++
      era ++ flags ++ Seq("queries", "sf"))
  }

  test("slope and profile lines carry their fields in order") {
    val slope = slopeOf("a", "b", stamp, ListMap("q" -> 0.1), ListMap("q" -> 2.0)).toJson
    assert(fields(slope) == Seq("metric", "unit", "small", "large", "other_graft_jvms",
      "lock_acquired", "lock_wait_s", "flag_rule", "warm_small", "warm_large", "slope", "flagged"))
    assert(Json.readTree(slope).get("flag_rule").asText == "ratio>15.0 and large>0.5s")
    assert(strs(Json.readTree(slope).get("flagged")) == Seq("q"))
    val progress = Json.readTree("""{"batchId":0,"durationMs":{"addBatch":3}}""")
    val profile = Profiles(sf = "sf0.1", stamp = stamp, runs = 2, queries = ListMap(
      "q" -> Profile(Seq(0.5, 0.25), Seq(3, 3), Seq(Seq(progress), Nil)))).toJson
    assert(fields(profile) == Seq("metric", "sf", "other_graft_jvms", "lock_acquired",
      "lock_wait_s", "runs", "queries"))
    val q = Json.readTree(profile).get("queries").get("q")
    assert(fields(q.toString) == Seq("times", "jobs", "progress"))
    assert(q.get("progress").get(0).get(0).get("durationMs").get("addBatch").asInt == 3)
  }

  test("the model re-serializes the committed sweep and slope artifacts byte for byte") {
    def committed(name: String) =
      new String(Files.readAllBytes(Paths.get(name)), "UTF-8").stripSuffix("\n")
    for (name <- Seq("BENCH_LOCAL_LAST.json", "BENCH_LOCAL_LAST_c8.json",
                     "BENCH_LOCAL_LAST_c32.json")) {
      val text = committed(name)
      val n = Json.readTree(text)
      val adjudication = ListMap(n.get("adjudication").fields().asScala.map { e =>
        val a = e.getValue
        e.getKey -> Adjudication(a.get("times").elements().asScala.map(_.asDouble).toSeq,
          a.get("jobs").elements().asScala.map(_.asInt).toSeq,
          a.get("warm").asDouble, a.get("verdict").asText)
      }.toSeq: _*)
      val model = Full(stampOf(n), Sweep(value = n.get("value").asDouble,
        era = n.get("era").asDouble, era_raw = n.get("era_raw").asDouble,
        era_warn = Option(n.get("era_warn")).filterNot(_.isNull).map(_.asText),
        queries = nums(n.get("queries")), cold = nums(n.get("cold")),
        ratio = nums(n.get("ratio")), ratio_norm = nums(n.get("ratio_norm")),
        regressed = strs(n.get("regressed")), adjudication = adjudication,
        unbaselined = strs(n.get("unbaselined")), materializes = strs(n.get("materializes")),
        failed = strs(n.get("failed")), sf = n.get("sf").asText))
      assert(model.toJson == text, name)
    }
    for (name <- Seq("BENCH_SLOPE_r20.json", "BENCH_SLOPE_XL.json", "BENCH_SLOPE_XL2.json")) {
      val text = committed(name)
      val n = Json.readTree(text)
      val model = Slope(small = n.get("small").asText, large = n.get("large").asText,
        stamp = stampOf(n), warm_small = nums(n.get("warm_small")),
        warm_large = nums(n.get("warm_large")), slope = nums(n.get("slope")),
        flagged = strs(n.get("flagged")))
      assert(model.toJson == text, name)
    }
  }
}
