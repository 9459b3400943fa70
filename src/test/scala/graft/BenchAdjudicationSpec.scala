package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench guard's auto-adjudication hook: a flagged query must produce
  * embedded re-profile evidence in the artifact, so a round can never
  * leave a `regressed` entry with nothing to adjudicate from (round 10
  * did exactly that). Forces a synthetic flag with a tiny baseline and a
  * zeroed absolute floor on a restricted query set — the production
  * thresholds stay what Bench.main uses.
  */
class BenchAdjudicationSpec extends SparkSpec {

  private val fast: (SparkSession, String) => DataFrame =
    (s, _) => s.range(1000).selectExpr("id", "id * 2 AS twice")

  // A fixed, sleep-dominated cost: between two Bench.run calls the JIT can
  // halve the timing of a millisecond query, but not of this one, so two
  // runs of it measure the same within a few percent.
  private val steady: (SparkSession, String) => DataFrame =
    (s, d) => { Thread.sleep(200); fast(s, d) }

  test("a forced flag embeds an adjudication block with times and jobs") {
    val json = Bench.run(spark, sfDir = "unused",
      queries = Seq("toy_query" -> fast),
      baseline = Map("toy_query" -> 1e-9), // any real run is >2x this
      floor = 0.0, adjRuns = 3).toJson
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    assert(node.get("regressed").toString.contains("toy_query"), json)
    val adj = node.get("adjudication").get("toy_query")
    assert(adj != null, s"no adjudication block in $json")
    assert(adj.get("times").size() == 3)
    assert(adj.get("jobs").size() == 3)
    assert(adj.get("warm").isNumber)
    assert(Set("environmental", "confirmed").contains(adj.get("verdict").asText()))
    // A noop-sink run of a deterministic plan has a constant job count, and
    // the re-profiled warm of a millisecond query still exceeds 2x the
    // absurd baseline with a zero floor: the verdict must be "confirmed"
    // (the hook gathers evidence; it never blesses a real exceedance away).
    assert(adj.get("verdict").asText() == "confirmed")
  }

  test("over-ratio but under-floor: not regressed, yet evidence is still embedded") {
    // The r14 gap: a >2× ratio whose absolute delta sat under the floor
    // shipped with no adjudication block. The floor governs the `regressed`
    // verdict only — evidence must accompany EVERY over-ratio entry.
    val json = Bench.run(spark, sfDir = "unused",
      queries = Seq("toy_query" -> fast),
      baseline = Map("toy_query" -> 1e-9), // any real run is >2x this
      floor = 1e9,                         // but never over the floor
      adjRuns = 3).toJson
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    assert(node.get("regressed").size() == 0, json)
    val adj = node.get("adjudication").get("toy_query")
    assert(adj != null, s"no adjudication evidence for the over-ratio entry in $json")
    assert(adj.get("times").size() == 3)
    // Under the (huge) floor with a stable plan, the verdict reads
    // environmental — the guard's verdict logic, on the embedded evidence.
    assert(adj.get("verdict").asText() == "environmental")
  }

  test("no flag, no adjudication entries; artifact parses with empty block") {
    val json = Bench.run(spark, sfDir = "unused",
      queries = Seq("toy_query" -> fast),
      baseline = Map("toy_query" -> 1e9), // unreachable: never flags
      adjRuns = 3).toJson
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    assert(node.get("regressed").size() == 0)
    assert(node.get("adjudication").size() == 0)
    assert(node.get("queries").get("toy_query").isNumber)
  }

  test("adjudicate() verdict logic: stable plan under guard = environmental") {
    // flat times, constant jobs, warm ~ baseline: environmental
    val (w1, v1) = Bench.adjudicate(Seq(2.6, 0.7, 0.45, 0.44, 0.43, 0.46, 0.44, 0.42),
      Seq.fill(8)(5), baseline = 0.37, factor = 2.0, floor = 0.75)
    assert(v1 == "environmental", s"warm=$w1")
    // same times but job count varies between runs: plan changed, confirmed
    val (_, v2) = Bench.adjudicate(Seq(2.6, 0.7, 0.45, 0.44, 0.43, 0.46, 0.44, 0.42),
      Seq(5, 5, 7, 5, 7, 5, 7, 5), baseline = 0.37, factor = 2.0, floor = 0.75)
    assert(v2 == "confirmed")
    // stable plan but warm genuinely over both thresholds: confirmed
    val (_, v3) = Bench.adjudicate(Seq(6.0, 5.2, 5.1, 5.0, 5.1, 5.2, 5.0, 5.1),
      Seq.fill(8)(5), baseline = 0.37, factor = 2.0, floor = 0.75)
    assert(v3 == "confirmed")
  }

  test("profiledWarm is the median of post-warmup runs") {
    // 8 runs: drop first 2 (len/4), median of remaining 6 sorted
    assert(Bench.profiledWarm(Seq(9.0, 8.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0)) == 4.0)
    // tiny profiles still drop at least one warmup run
    assert(Bench.profiledWarm(Seq(9.0, 1.0)) == 1.0)
  }

  test("eraOf: canary median, clamped, 1.0 without canary baselines") {
    val base = Bench.CanaryQueries.map(_ -> 1.0).toMap
    // a uniform 1.4x machine era reads as era = 1.4
    assert(Bench.eraOf(Bench.CanaryQueries.map(_ -> 1.4).toMap, base) == 1.4)
    // the median ignores one outlier canary (its own regression shows in
    // the raw ratio, not the era)
    val mixed = Map(Bench.CanaryQueries.head -> 9.0) ++
      Bench.CanaryQueries.tail.map(_ -> 1.0).toMap
    assert(Bench.eraOf(mixed, base) == 1.0)
    // wilder swings clamp: an "era" of 10x is an incident, not an era
    assert(Bench.eraOf(Bench.CanaryQueries.map(_ -> 10.0).toMap, base) == 3.0)
    assert(Bench.eraOf(Bench.CanaryQueries.map(_ -> 0.1).toMap, base) == 0.5)
    // no canaries in the run (spec harnesses, first round): neutral era
    assert(Bench.eraOf(Map("toy_query" -> 5.0), Map("toy_query" -> 1.0)) == 1.0)
  }

  test("eraWarnOf: the alarm fires at clamp bounds and outside the notes band") {
    // inside [0.8, 1.3]: unremarkable, no warning
    assert(Bench.eraWarnOf(1.0, hasBaseline = true).isEmpty)
    assert(Bench.eraWarnOf(1.29, hasBaseline = true).isEmpty)
    assert(Bench.eraWarnOf(0.81, hasBaseline = true).isEmpty)
    // drifted but within the clamp: requires a machine-era notes entry
    assert(Bench.eraWarnOf(1.35, hasBaseline = true)
      .contains("era_outside_notes_band"))
    assert(Bench.eraWarnOf(0.7, hasBaseline = true)
      .contains("era_outside_notes_band"))
    // at/past a clamp bound: an incident, not an era — normalization
    // would silently absorb up to the clamp, so this is the louder alarm
    assert(Bench.eraWarnOf(3.0, hasBaseline = true).contains("era_at_clamp_bound"))
    assert(Bench.eraWarnOf(7.2, hasBaseline = true).contains("era_at_clamp_bound"))
    assert(Bench.eraWarnOf(0.4, hasBaseline = true).contains("era_at_clamp_bound"))
    // no committed baseline (first round): the guard is off entirely
    assert(Bench.eraWarnOf(3.5, hasBaseline = false).isEmpty)
  }

  // The fixed sweep of the compactOf/perqOf tests, as the model and as the
  // full artifact the string-built Bench printed for it.
  private val FixedSf = "/root/testdata/sf0.1"
  private def fixedSweep(q12: Double): Bench.Sweep = {
    import scala.collection.immutable.ListMap
    Bench.Sweep(value = 216.54, era = 0.852, era_raw = 0.852, era_warn = None,
      queries = ListMap("q09_topk" -> 0.41, "q12_cond_buckets" -> q12, "zz_other" -> 9.9),
      cold = ListMap("q09_topk" -> 1.2), ratio = ListMap("q09_topk" -> 1.0),
      ratio_norm = ListMap("q09_topk" -> 1.17), regressed = Nil,
      adjudication = ListMap.empty, unbaselined = Seq("q214_media_decode_jpeg_envelope"),
      materializes = Nil, failed = Nil, sf = FixedSf)
  }
  private def fixedFull(q12: String): String =
    """{"metric":"total","value":216.54,"unit":"sec","run":"warm","exec":"noop_sink","era":0.852,"era_raw":0.852,"era_warn":null,"queries":{"q09_topk":0.41,"q12_cond_buckets":""" + q12 + ""","zz_other":9.9},"cold":{"q09_topk":1.2},"ratio":{"q09_topk":1.0},"ratio_norm":{"q09_topk":1.17},"regressed":[],"adjudication":{},"unbaselined":["q214_media_decode_jpeg_envelope"],"materializes":[],"failed":[],"sf":"""" + FixedSf + """"}"""

  test("compactOf: bounded-tail consumers get one complete parseable object") {
    // The round driver keeps a 2000-char tail of Bench stdout; the full
    // per-query artifact is ~25 KB and never fit (three rounds of
    // `parsed: null` driver artifacts). The compact line printed LAST must
    // stay under that bound and carry the adjudication fields verbatim.
    val sweep = fixedSweep(q12 = 0.33)
    assert(sweep.toJson == fixedFull(q12 = "0.33"))
    val c = Bench.compactOf(sweep, 214).toJson
    // byte-identical to the line the string-built artifact produced
    assert(c == """{"metric":"total","value":216.54,"unit":"sec","run":"warm","exec":"noop_sink","compact":true,"n_queries":214,"era":0.852,"era_raw":0.852,"era_warn":null,"regressed":[],"unbaselined":["q214_media_decode_jpeg_envelope"],"failed":[],"queries":{"q09_topk":0.41,"q12_cond_buckets":0.33},"queries_note":"canary sample; full per-query artifact on the preceding stdout line and in SPARK_GRAFT_BENCH_OUT","sf":"""" + FixedSf + """"}""")
    assert(c.length < 2000, s"compact line must fit the driver tail: ${c.length}")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(c) // throws on malformed JSON
    assert(node.get("value").asDouble() == 216.54)
    assert(node.get("n_queries").asInt() == 214)
    assert(node.get("era_raw").asDouble() == 0.852)
    assert(node.get("era_warn").isNull)
    assert(node.get("unbaselined").get(0).asText() ==
      "q214_media_decode_jpeg_envelope")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    // the queries sample carries the canaries' WARM times (first
    // occurrence in the full artifact), not cold/ratio entries
    assert(node.get("queries").get("q09_topk").asDouble() == 0.41)
    assert(!node.get("queries").has("zz_other"))
  }

  test("perqOf: the FINAL stdout line carries the FULL per-query warm map") {
    // r19 verdict item 1: the driver's per-query comparison saw only the
    // 5-canary sample for two rounds. The perq line (printed last) must be
    // complete JSON with EVERY query's warm time and none of the bulky
    // evidence objects.
    val sweep = fixedSweep(q12 = 0.330001874)
    assert(sweep.toJson == fixedFull(q12 = "0.330001874"))
    val p = Bench.perqOf(sweep, 214).toJson
    // byte-identical to the line the string-built artifact produced
    assert(p == """{"metric":"total","value":216.54,"unit":"sec","run":"warm","exec":"noop_sink","perq":true,"n_queries":214,"era":0.852,"era_raw":0.852,"era_warn":null,"regressed":[],"unbaselined":["q214_media_decode_jpeg_envelope"],"failed":[],"queries":{"q09_topk":0.41,"q12_cond_buckets":0.33,"zz_other":9.9},"sf":"""" + FixedSf + """"}""")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(p) // throws on malformed JSON
    assert(node.get("perq").asBoolean())
    assert(node.get("value").asDouble() == 216.54)
    assert(node.get("n_queries").asInt() == 214)
    // the full WARM map, 3-decimal rounded — not the canary sample
    assert(node.get("queries").size() == 3)
    assert(node.get("queries").get("q09_topk").asDouble() == 0.41)
    assert(node.get("queries").get("q12_cond_buckets").asDouble() == 0.33)
    assert(node.get("queries").get("zz_other").asDouble() == 9.9)
    // warm map only: the evidence objects stay on the full-artifact line
    assert(!p.contains("adjudication"))
    assert(!p.contains("\"cold\""))
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
  }

  test("flags fire on the era-normalized ratio: a slow era is one number, not a flag storm") {
    // One canary present, measured at 3x its baseline -> era = 3 (clamped
    // cap). The non-canary query also runs ~3x its baseline: raw ratio > 2
    // but normalized ratio ~ 1 -> NOT regressed, no adjudication needed.
    val canary = Bench.CanaryQueries.head
    var base = 0.0
    // calibrate: measure once to build a baseline 3x under the real time
    val cal = Bench.run(spark, sfDir = "unused",
      queries = Seq("toy_query" -> steady, canary -> steady),
      baseline = Map.empty, adjRuns = 2).toJson
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    base = om.readTree(cal).get("queries").get("toy_query").asDouble()
    val canaryBase = om.readTree(cal).get("queries").get(canary).asDouble()
    val json = Bench.run(spark, sfDir = "unused",
      queries = Seq("toy_query" -> steady, canary -> steady),
      baseline = Map("toy_query" -> base / 3.0, canary -> canaryBase / 3.0),
      floor = 0.0, adjRuns = 2).toJson
    val node = om.readTree(json)
    val era = node.get("era").asDouble()
    assert(era > 1.5, s"era=$era in $json")
    val norm = node.get("ratio_norm").get("toy_query").asDouble()
    val raw = node.get("ratio").get("toy_query").asDouble()
    assert(raw > 2.0, s"raw=$raw")
    assert(norm < 2.0, s"norm=$norm era=$era raw=$raw")
    assert(!node.get("regressed").toString.contains("toy_query"), json)
  }
}
