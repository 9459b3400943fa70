package graft

import com.fasterxml.jackson.annotation.JsonUnwrapped
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark and profiling entrypoint. One main, three modes:
  *
  *  - no arguments (the bench contract): times every gate query at
  *    `SPARK_GRAFT_SF_DIR` and prints the full artifact line, the compact
  *    line and the per-query line, in that order;
  *  - `profile <q1,q2,…> [runs=5]`: runs the named gates in the GIVEN order,
  *    `runs` times each, and prints one line with per-run wall times, Spark
  *    job counts and, for streaming gates, every `StreamingQueryProgress`
  *    (the per-trigger durationMs / state-operator breakdown). In-order runs
  *    reproduce a sweep neighborhood (q192–q194 before q195) so in-loop
  *    interference can be bisected; a single query is an isolated profile;
  *  - `slope [small large]`: every gate warm at two scale factors in one
  *    JVM, per-query ratio large/small (see [[FlagRatio]]); the defaults
  *    are the `sf0.01` directory beside `SPARK_GRAFT_SF_DIR` and
  *    `SPARK_GRAFT_SF_DIR` itself.
  *
  * Every mode holds the machine-wide bench lock ([[locked]]).
  *
  * Each sweep query is executed TWICE in the same session and the reported
  * number is the WARM (second) run: a single cold run per JVM carries
  * multi-second JIT/codegen/shuffle-warmup noise that has produced 3-5×
  * round-over-round swings on queries whose code did not change. The cold
  * timings are still emitted (`cold` object) so startup-sensitive
  * regressions remain visible.
  *
  * Execution is a write to Spark's built-in `noop` sink, NOT `.count()`:
  * under a count Catalyst prunes every projection and eliminates sorts, so
  * map-only queries (scalar funcs, text stats, lang-id, simhash) would be
  * benchmarked as little more than a parquet row count. The noop sink runs
  * the full physical plan — every column computed, every sort executed —
  * and discards the rows, which is the honest per-query cost.
  *
  * `materializes` lists the queries whose COLD run built at least one
  * MaterializeOnce side table (shingle/trigram/centroid relations): their
  * cold number includes a one-time index build that warm runs (and any
  * same-corpus consumer afterwards) do not pay.
  *
  * Failure policy: a query that throws is reported in a `failed` array and
  * contributes nothing to `queries`/`value` — a crashing query must never
  * masquerade as a fast one. Fatal JVM errors are not a query failure and
  * end the run.
  *
  * REGRESSION GUARD: when a committed per-query baseline exists
  * (`BENCH_BASELINE_PERQ.json`, a flat {query: warmSeconds} object; path
  * overridable via SPARK_GRAFT_BENCH_BASELINE), the output carries a
  * `ratio` object (warm / baseline per query) and a `regressed` array of
  * queries whose warm run exceeded 2× its baseline AND ran at least
  * [[AbsFloorSeconds]] over it. This exists because a 3.9× warm regression
  * on one query once shipped inside a round whose TOTAL improved — totals
  * hide per-query cliffs; the guard makes every per-query regression a
  * named artifact the next round must adjudicate. The absolute floor
  * exists because sub-second queries carry ±0.5 s GC/run-order jitter in
  * the 54-query bench JVM (round 9: q12 flagged at 2.86× whose isolated
  * profile was a flat 0.45 s warm / constant 5 jobs) — ratio-only
  * flagging turns that jitter into false alarms, while every real flag so
  * far (q18's +4.4 s) clears the floor easily. Queries absent from the
  * baseline (new gates) are listed in `unbaselined`, not silently
  * ungoverned.
  *
  * AUTO-ADJUDICATION: every `regressed` flag so far (q18 r8, q12 r9,
  * q44 r9, q53 r10) was resolved by the same manual step — an isolated
  * re-profile showing constant job counts and a flat warm time, i.e.
  * bench-JVM context rather than a plan change. Round 10 skipped the
  * manual step and left its flag open, so the re-profile now runs
  * automatically: after the sweep, each query whose ratio exceeds the
  * factor — REGARDLESS of the absolute floor, so even a floor-exempt
  * sub-second 2×+ entry ships with its own evidence — is profiled
  * [[AdjudicationRuns]] times in the (now otherwise quiescent) JVM with
  * [[profile]], and the artifact embeds the evidence under
  * `adjudication: {query: {times, jobs, warm, verdict}}`. `warm` is the
  * median of the post-warmup runs; `verdict` is "environmental" when the
  * job count is constant and the re-profiled warm would NOT itself trip
  * the guard, "confirmed" otherwise. A confirmed verdict still demands a
  * human-written BASELINE_NOTES.md entry — the hook gathers the evidence a
  * do-nothing round used to leave ungathered; it does not bless anything.
  *
  * ARTIFACT FILE: the full JSON line is also written to
  * SPARK_GRAFT_BENCH_OUT (default `BENCH_LOCAL_LAST.json`) — the driver's
  * stdout-tail capture truncates on long lines (round 10 recorded
  * `"parsed": null`), so the complete warm/cold/ratio/adjudication maps
  * must exist as a file the round can commit.
  *
  * Every line is a case class of the artifact model below, serialized by
  * Jackson: field order is constructor order, `None` is `null`.
  */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  val RegressionFactor = 2.0
  val AbsFloorSeconds = 0.75
  val AdjudicationRuns = 8

  /** Slope flag: a large/small ratio above 15× AND a large-sf time above
    * [[MinFlagSeconds]]. sf0.01→sf0.1 is 10× on the TPC-H-ish tables
    * (documents/embeddings scale 10×/4× — only sf0.1 exercises their
    * n-derived index geometry), so a well-behaved query's slope is ≤~10
    * plus constant overhead; sub-half-second queries are timer noise, not
    * scaling evidence. The single-sf bench can say a query is fast at sf0.1
    * and still hide superlinearity; the slope is the strongest local proxy
    * for "would this survive 100 TB" the container can measure. */
  val FlagRatio = 15.0
  val MinFlagSeconds = 0.5

  /** ERA CANARIES: stable, trivial, plan-pinned queries whose blessed-vs-
    * measured ratio estimates the MACHINE ERA of the run (container CPU
    * contention, thermal state — r16's loop ran 1.35× slower than r15's
    * machine-wide with zero shared-path code change, median per-query
    * 1.39×, and produced seven raw flags per artifact with DISJOINT
    * membership across two loops). The era divides into every ratio
    * before flagging (`ratio_norm`, `regressed`); raw ratios stay in the
    * artifact so a canary's own regression — or a genuine shared-path
    * slowdown, which hits canaries and non-canaries alike and shows as
    * era drift rather than per-query flags — remains visible. The era is
    * clamped to [0.5, 3]: a wilder swing is not an era, it is an incident
    * that needs its own adjudication. */
  val CanaryQueries: Seq[String] = Seq(
    "q09_topk", "q12_cond_buckets", "q19_null_handling",
    "q26_contains", "q27_first_match")

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  sealed trait Artifact { def toJson: String = Json.writeValueAsString(this) }

  /** Cross-process contamination stamp of a locked run (see [[locked]]). */
  final case class Stamp(other_graft_jvms: Int, lock_acquired: Boolean,
                         lock_wait_s: Double)

  final case class Adjudication(times: Seq[Double], jobs: Seq[Int],
                                warm: Double, verdict: String)

  /** One sweep: the full artifact minus the [[Stamp]]. */
  final case class Sweep(
      metric: String = "total", value: Double, unit: String = "sec",
      run: String = "warm", exec: String = "noop_sink",
      era: Double, era_raw: Double, era_warn: Option[String],
      queries: ListMap[String, Double], cold: ListMap[String, Double],
      ratio: ListMap[String, Double], ratio_norm: ListMap[String, Double],
      regressed: Seq[String], adjudication: ListMap[String, Adjudication],
      unbaselined: Seq[String], materializes: Seq[String],
      failed: Seq[String], sf: String) extends Artifact

  /** The full artifact line and `BENCH_LOCAL_LAST*.json`. */
  final case class Full(@JsonUnwrapped stamp: Stamp,
                        @JsonUnwrapped sweep: Sweep) extends Artifact

  /** See [[compactOf]]. */
  final case class Compact(
      metric: String, value: Double, unit: String, run: String, exec: String,
      compact: Boolean = true, n_queries: Int,
      era: Double, era_raw: Double, era_warn: Option[String],
      regressed: Seq[String], unbaselined: Seq[String], failed: Seq[String],
      queries: ListMap[String, Double],
      queries_note: String = "canary sample; full per-query artifact on the " +
        "preceding stdout line and in SPARK_GRAFT_BENCH_OUT",
      sf: String) extends Artifact

  /** See [[perqOf]]. */
  final case class Perq(
      metric: String, value: Double, unit: String, run: String, exec: String,
      perq: Boolean = true, n_queries: Int,
      era: Double, era_raw: Double, era_warn: Option[String],
      regressed: Seq[String], unbaselined: Seq[String], failed: Seq[String],
      queries: ListMap[String, Double], sf: String) extends Artifact

  /** The `slope` line and `BENCH_SLOPE_*.json`. */
  final case class Slope(
      metric: String = "slope", unit: String = "ratio",
      small: String, large: String, @JsonUnwrapped stamp: Stamp,
      flag_rule: String = s"ratio>$FlagRatio and large>${MinFlagSeconds}s",
      warm_small: ListMap[String, Double], warm_large: ListMap[String, Double],
      slope: ListMap[String, Double], flagged: Seq[String]) extends Artifact

  /** Per-run evidence of one query: wall seconds, Spark jobs started, and
    * the progress events of every streaming query the run drove. */
  final case class Profile(times: Seq[Double], jobs: Seq[Int],
                           progress: Seq[Seq[JsonNode]])

  /** The `profile` line. */
  final case class Profiles(
      metric: String = "profile", sf: String, @JsonUnwrapped stamp: Stamp,
      runs: Int, queries: ListMap[String, Profile]) extends Artifact

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** UNCLAMPED median blessed-vs-measured ratio over the canaries present
    * in both maps; 1.0 when no canary has a baseline (spec runs, first
    * round). Exposed separately so the artifact can machine-flag "raw era
    * at/past a clamp bound" — which is an incident, not an era. */
  def eraRawOf(warm: scala.collection.Map[String, Double],
               baseline: Map[String, Double]): Double = {
    val rs = CanaryQueries.flatMap(q =>
      for { w <- warm.get(q); b <- baseline.get(q) } yield w / b).sorted
    if (rs.isEmpty) 1.0 else rs(rs.length / 2)
  }

  /** [[eraRawOf]] clamped to [0.5, 3] — the value that divides into every
    * ratio before flagging. */
  def eraOf(warm: scala.collection.Map[String, Double],
            baseline: Map[String, Double]): Double =
    math.min(3.0, math.max(0.5, eraRawOf(warm, baseline)))

  /** ERA ALARM (the canary-regression failure mode): normalization absorbs
    * anything that slows canaries and non-canaries alike, so a genuine
    * shared-path regression — a scan/shuffle/codegen change — could ride
    * era to zero flags. These are the two incident rules BASELINE_NOTES.md
    * declares, machine-checked: a raw era at/past a clamp bound, or an era
    * outside [0.8, 1.3], demands an explicit `machine-era:` adjudication
    * entry in the notes (BaselineNotesSpec enforces the entry for the
    * committed loop artifact). None (JSON null) when the era is
    * unremarkable. */
  val EraNotesBand: (Double, Double) = (0.8, 1.3)
  def eraWarnOf(eraRaw: Double, hasBaseline: Boolean): Option[String] =
    if (!hasBaseline) None
    else if (eraRaw <= 0.5 || eraRaw >= 3.0) Some("era_at_clamp_bound")
    else if (eraRaw < EraNotesBand._1 || eraRaw > EraNotesBand._2)
      Some("era_outside_notes_band")
    else None

  /** Flat {name: seconds} baseline, absent → empty. */
  def loadBaseline(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else Json.readTree(f).fields().asScala
      .filter(_.getValue.isNumber)
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  /** Wall seconds of one noop-sink execution of `df` (construction
    * included: gates may run eager jobs before they return). With `gc`, a
    * full collection runs first, OUTSIDE the timed window: ~400 executions
    * in one JVM pile up unreferenced broadcast/shuffle/RDD/localCheckpoint
    * blocks faster than the async ContextCleaner retires them (it only
    * acts on GC'd references), and the accumulated churn lands on
    * whichever query runs next — r15's q195 measured 3.15 s warm in-loop
    * vs 0.30 s once the sweep drained, and the r11 XL slope probe read q50
    * at 86 s vs 3.6 s in an isolated JVM. The collection costs ~100 ms. */
  def time(df: => DataFrame, gc: Boolean = false): Double = {
    if (gc) System.gc()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `fn` `runs` times (each after a GC), recording per-run wall
    * seconds, Spark job counts and streaming progress events. Both
    * listener buses are async; each run gives them a moment to drain
    * before its counts are read. */
  def profile(spark: SparkSession, sfDir: String, fn: Query, runs: Int): Profile = {
    val jobs = new AtomicInteger(0)
    val progress = new ConcurrentLinkedQueue[JsonNode]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(Json.readTree(e.progress.json))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    try {
      val perRun = (1 to runs).map { _ =>
        val j0 = jobs.get()
        progress.clear()
        val t = time(fn(spark, sfDir), gc = true)
        Thread.sleep(200)
        (t, jobs.get() - j0, progress.asScala.toSeq)
      }
      Profile(perRun.map(_._1), perRun.map(_._2), perRun.map(_._3))
    } finally {
      spark.streams.removeListener(streamListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  /** Median of the post-warmup portion of a profile (first quarter of the
    * runs, minimum 1, dropped as JIT/cache warmup). */
  def profiledWarm(times: Seq[Double]): Double = {
    val warmRuns = times.drop(math.max(1, times.length / 4)).sorted
    warmRuns(warmRuns.length / 2)
  }

  /** Evidence + verdict for one flagged query. "environmental" = the
    * isolated-style re-profile shows a constant job count (no plan change)
    * AND a warm time that would not itself trip the guard; anything else
    * is "confirmed" and needs a written BASELINE_NOTES.md adjudication. */
  def adjudicate(times: Seq[Double], jobCounts: Seq[Int], baseline: Double,
                 factor: Double, floor: Double): (Double, String) = {
    val warm = profiledWarm(times)
    val planStable = jobCounts.distinct.length == 1
    val underGuard = warm <= factor * baseline || warm - baseline <= floor
    (r3(warm), if (planStable && underGuard) "environmental" else "confirmed")
  }

  /** The full bench sweep as a pure-ish function of its inputs so the
    * adjudication path is spec-testable with a forced flag (tiny baseline
    * + zeroed floor) on a restricted query set. */
  def run(spark: SparkSession, sfDir: String,
          queries: Seq[(String, Query)],
          baseline: Map[String, Double],
          factor: Double = RegressionFactor,
          floor: Double = AbsFloorSeconds,
          adjRuns: Int = AdjudicationRuns): Sweep = {
    val warm = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ListBuffer[String]()
    val mats = scala.collection.mutable.ListBuffer[String]()
    queries.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val matsBefore = graft.operators.MaterializeOnce.relationCount
        // Quiesce before each query; cold absorbs the cleaner catch-up.
        cold(name) = time(fn(spark, sfDir), gc = true)
        if (graft.operators.MaterializeOnce.relationCount > matsBefore)
          mats += name
        warm(name) = time(fn(spark, sfDir))
      } catch { case NonFatal(e) =>
        failed += name
        cold.remove(name)
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
    }
    val ratio = ListMap(warm.toSeq.flatMap {
      case (q, t) => baseline.get(q).map(b => q -> math.rint(t / b * 100) / 100)
    }: _*)
    // Era normalization (see CanaryQueries): flags fire on the CANARY-
    // NORMALIZED ratio so a slow machine era produces one `era` number
    // instead of a flag storm that trains readers to ignore `regressed`.
    val era = eraOf(warm, baseline)
    val ratioNorm = ListMap(warm.toSeq.flatMap {
      case (q, t) =>
        baseline.get(q).map(b => q -> math.rint(t / (b * era) * 100) / 100)
    }: _*)
    // Evidence and verdict are gated separately: EVERY over-ratio query is
    // re-profiled (the artifact must be self-adjudicating — r14's driver
    // run carried a 2.39× entry under the floor with no embedded evidence,
    // forcing a cross-artifact hunt), but only over-ratio AND over-floor
    // queries are *regressed* (sub-second queries carry ±0.5 s jitter; see
    // the AbsFloorSeconds rationale above). Both tests run against the
    // era-scaled baseline.
    val overRatio = ratioNorm.collect { case (q, r) if r > factor => q }.toSeq.sorted
    val regressed = overRatio.filter(q => warm(q) - baseline(q) * era > floor)
    val unbaselined =
      if (baseline.isEmpty) Seq.empty // no baseline committed yet: no guard
      else warm.keys.filterNot(baseline.contains).toSeq.sorted
    // Auto-adjudication: re-profile each over-ratio query in the
    // now-quiescent JVM and embed the evidence. Runs AFTER the sweep so the
    // re-profile is never concurrent with other timed work. The verdict
    // compares against the era-scaled baseline (the era is machine-wide,
    // not in-JVM, so it applies to the re-profile too).
    val byName = queries.toMap
    val adjudication = ListMap(overRatio.map { q =>
      val p = profile(spark, sfDir, byName(q), adjRuns)
      val (w, verdict) = adjudicate(p.times, p.jobs, baseline(q) * era, factor, floor)
      q -> Adjudication(p.times.map(r3), p.jobs, w, verdict)
    }: _*)
    // Warn on the UNROUNDED ratio — a raw era just outside the notes band
    // (e.g. 0.7996) must not round back inside and mute the alarm; only
    // the artifact field is rounded for display.
    val eraRaw = eraRawOf(warm, baseline)
    Sweep(value = warm.values.sum, era = r3(era), era_raw = r3(eraRaw),
      era_warn = eraWarnOf(eraRaw, baseline.nonEmpty),
      queries = ListMap.from(warm), cold = ListMap.from(cold),
      ratio = ratio, ratio_norm = ratioNorm, regressed = regressed,
      adjudication = adjudication, unbaselined = unbaselined,
      materializes = mats.toSeq, failed = failed.toSeq, sf = sfDir)
  }

  /** Compact (< 2 KB) summary of a sweep: the aggregate, the era fields,
    * every flag array, and the CANARY warm times as the `queries` sample —
    * no 200-entry per-query maps. Printed after the full line so a
    * consumer that keeps only a bounded tail of stdout (one keeps 2000
    * chars — three rounds of its bench artifacts carried
    * `parsed: null` because the 25 KB full line never fit) still captures
    * one complete, parseable JSON object. */
  def compactOf(s: Sweep, nQueries: Int): Compact =
    Compact(s.metric, s.value, s.unit, s.run, s.exec, n_queries = nQueries,
      era = s.era, era_raw = s.era_raw, era_warn = s.era_warn,
      regressed = s.regressed, unbaselined = s.unbaselined, failed = s.failed,
      queries = ListMap(CanaryQueries.flatMap(q => s.queries.get(q).map(q -> _)): _*),
      sf = s.sf)

  /** Per-query summary (~6 KB for 214 gates): the driver contract fields
    * plus the FULL warm `queries` map rounded to 3 decimals, printed as the
    * FINAL stdout line. Rationale (r19 verdict item 1): the driver's
    * per-query round-over-round comparison (PERF `n_common` / geomean)
    * parses bench stdout, and for two rounds it saw either nothing (the
    * 25 KB full artifact exceeds its line handling) or only the 5-canary
    * sample of [[compactOf]]. The bulky evidence objects (cold/ratio/
    * ratio_norm/adjudication) stay on the full-artifact line and in
    * SPARK_GRAFT_BENCH_OUT. */
  def perqOf(s: Sweep, nQueries: Int): Perq =
    Perq(s.metric, s.value, s.unit, s.run, s.exec, n_queries = nQueries,
      era = s.era, era_raw = s.era_raw, era_warn = s.era_warn,
      regressed = s.regressed, unbaselined = s.unbaselined, failed = s.failed,
      queries = s.queries.map { case (q, t) => q -> r3(t) }, sf = s.sf)

  /** Warm seconds of every gate at `sfDir`, in name order, after an
    * unreported cold run; failures are logged and left out. */
  def warmTimes(spark: SparkSession, sfDir: String): ListMap[String, Double] =
    ListMap(SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        time(fn(spark, sfDir), gc = true)
        Some(name -> time(fn(spark, sfDir)))
      } catch { case NonFatal(e) =>
        System.err.println(s"[slope] $name FAILED at $sfDir: ${e.getMessage}")
        None
      }
    }: _*)

  /** The slope line over the warm maps of [[warmTimes]] at two sfs. */
  def slopeOf(small: String, large: String, stamp: Stamp,
              ts: ListMap[String, Double], tl: ListMap[String, Double]): Slope = {
    val ratios = ListMap(ts.keySet.intersect(tl.keySet).toSeq.sorted.map { q =>
      q -> math.rint(tl(q) / math.max(ts(q), 1e-3) * 100) / 100
    }: _*)
    Slope(small = small, large = large, stamp = stamp,
      warm_small = ts.map { case (q, t) => q -> r3(t) },
      warm_large = tl.map { case (q, t) => q -> r3(t) },
      slope = ratios,
      flagged = ratios.collect {
        case (q, r) if r > FlagRatio && tl(q) > MinFlagSeconds => q
      }.toSeq)
  }

  /** Machine-wide bench serialization + contamination stamp around `body`
    * (the r18 refresh/bench overlap produced 4 environmental flags
    * that had to be adjudicated forensically): hold /tmp/graft_bench.lock
    * for the whole timed run; if another bench holds it, WAIT (up to 45
    * min) rather than contaminate both. `other_graft_jvms` is the larger of
    * the peer counts at start and end — a peer that appeared or
    * disappeared mid-run still counts as contamination. */
  def locked[T](body: => T): (Stamp, T) = {
    RunCoord.registerJvm()
    val (held, waited, (othersAtStart, out)) =
      RunCoord.withBenchLock(maxWaitS = 45 * 60)((RunCoord.otherGraftJvms(), body))
    (Stamp(math.max(othersAtStart, RunCoord.otherGraftJvms()), held,
      math.rint(waited * 10) / 10), out)
  }

  /** A local session, warmed with a JVM/codegen job so the first timed
    * query is not charged session startup (the warmup deliberately does
    * NOT touch the corpus: I/O stays timed). */
  def withSession[T](cpus: String)(body: SparkSession => T): T = {
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val out = body(spark)
    spark.stop()
    // Once streaming gates have run, the StateStore maintenance thread
    // logs a 10-line "SparkEnv not active" stack after the session stops:
    // ~800 chars of noise in a consumer's bounded 2000-char stdout tail.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    args.toList match {
      case Nil => sweepMain(sfDir, cpus)
      case "profile" :: names :: rest if rest.length <= 1 =>
        val runs = rest.headOption.fold(5)(_.toInt)
        val qs = names.split(',').map(_.trim).filter(_.nonEmpty).map(n =>
          n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))
        val (stamp, ps) = locked(withSession(cpus) { spark =>
          qs.map { case (n, fn) =>
            val p = profile(spark, sfDir, fn, runs)
            n -> p.copy(times = p.times.map(r3))
          }
        })
        println(Profiles(sf = sfDir, stamp = stamp, runs = runs,
          queries = ListMap(ps.toSeq: _*)).toJson)
      case "slope" :: rest if rest.length == 0 || rest.length == 2 =>
        val List(small, large) = if (rest.nonEmpty) rest
          else List(java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString, sfDir)
        val (stamp, (ts, tl)) = locked(withSession(cpus) { spark =>
          (warmTimes(spark, small), warmTimes(spark, large))
        })
        println(slopeOf(small, large, stamp, ts, tl).toJson)
      case _ => sys.error("usage: Bench | Bench profile <q1,q2,…> [runs] | Bench slope [small large]")
    }
  }

  private def sweepMain(sfDir: String, cpus: String): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL_LAST.json")
    val (stamp, sweep) = locked(withSession(cpus) { spark =>
      val baseline = loadBaseline(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE_PERQ.json"))
      run(spark, sfDir, SparkEntry.queries.toSeq, baseline)
    })
    val json = Full(stamp, sweep).toJson
    println(json)
    println(compactOf(sweep, SparkEntry.queries.size).toJson)
    // FINAL line: the full per-query warm map, which per-query
    // round-over-round comparisons parse.
    println(perqOf(sweep, SparkEntry.queries.size).toJson)
    // The driver overwrites outPath on its own runs (its low-core scaling
    // sweep lands LAST, so the 32-cpu per-query artifact survived nowhere
    // in r19). Keep a per-core-count copy alongside it.
    val cpuPath =
      if (outPath.endsWith(".json")) outPath.stripSuffix(".json") + s"_c$cpus.json"
      else outPath + s"_c$cpus"
    Seq(outPath, cpuPath).foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p), (json + "\n").getBytes("UTF-8")))
  }
}
