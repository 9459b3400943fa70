package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.operators.MaterializeOnce
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `gates`: each listed gate of `SparkEntry.queries` built and executed,
  * one pass being every gate once; warm passes write to the `noop` sink.
  *
  * Pass order: one cold pass, which writes each gate's result as parquet
  * for the DuckDB oracle check, so that the check covers the first build of
  * every relation a gate pins; warm-up passes by `Main.warmUp`, on the sum
  * of the gates' times; then timed passes, at least three, so that each
  * gate's median has three samples or more. `System.gc()` runs before every
  * execution, outside the timed window.
  */
object GateWorkload {

  /** One gate per query pack, each with an oracle twin. README.md gives the
    * reason for each. */
  val Gates: Seq[String] = Seq(
    "q09_topk", "q27_first_match", "q34_minhash_pairs", "q38_cosine_topk",
    "q53_stream_exact_dedup", "q195_zip_csv_roundtrip", "q204_media_decode_image")

  val Packs: Seq[(String, QueryPack)] = Seq(
    "relational" -> RelationalQueries, "auditkit" -> AuditKitQueries,
    "text" -> TextPipelineQueries, "vector" -> VectorQueries,
    "streaming" -> StreamingQueries, "zip" -> ZipGateQueries, "media" -> MediaGateQueries)

  def packOf(gate: String): String =
    Packs.collectFirst { case (p, pack) if pack.queries.contains(gate) => p }.get

  private final case class Exec(constructMs: Double, execMs: Double,
                                constructJobs: Double, execJobs: Double,
                                gcMs: Double, jitMs: Double) {
    def ms: Double = constructMs + execMs
  }

  def run(spark: SparkSession, sfDir: String, work: Path, seconds: Double, threads: Int,
          probe: Probe, res: Main.Result): Unit = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    res.units = Gates

    def jobs(): Double = probe.snapshot()("spark.jobs")

    /** Builds and executes one gate; None when it throws. */
    def exec(gate: String, parent: Int, sink: DataFrame => Unit): Option[Exec] = {
      System.gc()
      val gc0 = Probe.gcMs()
      val jit0 = Probe.jitMs()
      try probe.span(gate, parent) { id =>
        val j0 = jobs()
        val t0 = System.nanoTime()
        val df = probe.span("gates.construct", id)(_ => queries(gate)(spark, sfDir))
        val t1 = System.nanoTime()
        val j1 = jobs()
        val t2 = System.nanoTime()
        probe.span("gates.exec", id)(_ => sink(df))
        val t3 = System.nanoTime()
        Some(Exec((t1 - t0) / 1e6, (t3 - t2) / 1e6, j1 - j0, jobs() - j1,
          Probe.gcMs() - gc0, Probe.jitMs() - jit0))
      } catch {
        case NonFatal(e) =>
          res.bad(gate) = s"threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    def pass(label: String, sink: String => DataFrame => Unit): Map[String, Exec] = {
      res.passes += 1
      probe.span(label) { id =>
        Gates.flatMap(g => exec(g, id, sink(g)).map(g -> _)).toMap
      }
    }

    val outDir = work.resolve("gates")
    val pins0 = MaterializeOnce.relationCount
    val cold = pass("cold_pass", g => df =>
      df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(g).toString))
    val pins = MaterializeOnce.relationCount - pins0
    val om = new ObjectMapper
    val sql = om.createObjectNode()
    for (g <- Gates) oracles.get(g) match {
      case Some(q) => sql.put(g, q)
      case None => res.bad(g) = "no oracle SQL"
    }
    Files.writeString(work.resolve("oracle_sql.json"), om.writeValueAsString(sql),
      StandardCharsets.UTF_8)

    val warmups = Main.warmUp(seconds)(() =>
      pass("warmup_pass", _ => noop).values.map(_.ms).sum / 1000)
    val before = probe.snapshot()
    val timed = Main.timed(seconds, 3)(() => pass("timed_pass", _ => noop))
    val after = probe.snapshot()
    res.put("live_heap_mb", Probe.liveHeapMb(), "MB")

    val warm = Gates.map(g => g -> Probe.median(timed.flatMap(_.get(g)).map(_.ms))).toMap
    res.put("cold_pass_s", cold.values.map(_.ms).sum / 1000, "s")
    res.put("warm_pass_s", warm.values.sum / 1000, "s")

    val n = timed.length
    res.put("run.warmup_passes", warmups, "count")
    def perPass(f: Exec => Double): Double = timed.map(_.values.map(f).sum).sum / n
    res.put("gates.construct_ms", perPass(_.constructMs), "ms")
    res.put("gates.construct_jobs", perPass(_.constructJobs), "count")
    res.put("gates.exec_ms", perPass(_.execMs), "ms")
    res.put("gates.exec_jobs", perPass(_.execJobs), "count")
    res.put("gates.plan_ms", (after("gates.plan_ms") - before("gates.plan_ms")) / n, "ms")
    for ((p, _) <- Packs)
      res.put(s"gates.$p.warm_ms", Gates.filter(packOf(_) == p).map(warm).sum, "ms")
    for (g <- Gates) {
      res.put(s"gate.$g.warm_ms", warm(g), "ms")
      res.put(s"gate.$g.jobs", Probe.median(timed.flatMap(_.get(g))
        .map(e => e.constructJobs + e.execJobs)), "count")
    }
    res.put("pin.relations", pins, "count")
    for (k <- Seq("stream.triggers", "stream.trigger_ms", "stream.commit_ms", "stream.state_rows"))
      res.put(k, (after(k) - before(k)) / n, if (k.endsWith("_ms")) "ms" else "count")
    res.put("jvm.gc_ms", perPass(_.gcMs), "ms")
    res.put("jvm.jit_ms", perPass(_.jitMs), "ms")
    if (probe.on)
      Main.engineMetrics(before, after, n, timed.map(_.values.map(_.ms).sum).sum, threads, res)
  }
}
