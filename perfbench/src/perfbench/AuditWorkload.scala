package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.{AuditEtl, AuditPipeline, Lighthouse, Scoring, SmartCsv, Zips}
import org.apache.spark.sql.SparkSession

/** `audit-bulk` and `audit-many`: `AuditPipeline.processDir` over a
  * directory of archives, executed through the `noop` sink: one cold pass,
  * warm-up passes by `Main.warmUp`, then timed passes.
  */
object AuditWorkload {

  private final case class PassTimes(wall: Double, constructMs: Double, execMs: Double,
                                     gcMs: Double, jitMs: Double)

  def run(spark: SparkSession, dir: String, work: Path, seconds: Double, threads: Int,
          probe: Probe, res: Main.Result): Unit = {
    val archives = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".zip")).toSeq.sortBy(_.toString)
    res.units = archives.map(_.getFileName.toString)

    def pass(label: String): PassTimes = {
      System.gc()
      val gc0 = Probe.gcMs()
      val jit0 = Probe.jitMs()
      res.passes += 1
      probe.span(label) { id =>
        val t0 = System.nanoTime()
        val ds = probe.span("pipeline.construct", id)(_ => AuditPipeline.processDir(spark, dir))
        val t1 = System.nanoTime()
        probe.span("pipeline.exec", id)(_ => ds.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        PassTimes((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
          Probe.gcMs() - gc0, Probe.jitMs() - jit0)
      }
    }

    val cold = pass("cold_pass")
    val warmups = Main.warmUp(seconds)(() => pass("warmup_pass").wall)
    val before = probe.snapshot()
    val timed = Main.timed(seconds, 3)(() => pass("timed_pass"))
    val after = probe.snapshot()
    res.put("live_heap_mb", Probe.liveHeapMb(), "MB")
    res.put("cold_pass_s", cold.wall, "s")
    res.put("warm_pass_s", Probe.median(timed.map(_.wall)), "s")

    res.put("run.warmup_passes", warmups, "count")
    res.put("jvm.gc_ms", timed.map(_.gcMs).sum / timed.length, "ms")
    res.put("jvm.jit_ms", timed.map(_.jitMs).sum / timed.length, "ms")
    res.put("pipeline.construct_ms", Probe.median(timed.map(_.constructMs)), "ms")
    res.put("pipeline.exec_ms", Probe.median(timed.map(_.execMs)), "ms")
    res.put("pipeline.archives", archives.length, "count")
    if (probe.on)
      Main.engineMetrics(before, after, timed.length, timed.map(_.wall).sum * 1000,
        threads, res)

    check(spark, dir, archives, work, probe, res)
    if (probe.on) kernelLayers(archives, probe, res)
  }

  /** The file-name convention `processDir` applies: client__domain__runDate. */
  private def names(p: Path): (String, String, String) = {
    val stem = p.getFileName.toString.stripSuffix(".zip")
    stem.split("__") match {
      case Array(c, d, r) => (c, d, r)
      case _ => (stem, stem, "")
    }
  }

  /** Collects one more pass and writes its rows for the document checks;
    * re-runs the single-archive kernel on a sample of the same bytes, which
    * the distributed path must reproduce exactly. */
  private def check(spark: SparkSession, dir: String, archives: Seq[Path], work: Path,
                    probe: Probe, res: Main.Result): Unit = {
    res.passes += 1
    val rows = probe.span("check")(_ => AuditPipeline.processDir(spark, dir).collect())
    val om = new ObjectMapper
    val lines = rows.map { r =>
      val n = om.createObjectNode()
      n.put("name", r.path.split('/').last)
      n.put("ok", r.ok)
      n.put("error", r.error)
      n.put("client", r.client)
      n.put("domain", r.domain)
      n.put("runDate", r.runDate)
      n.put("normalized", r.normalizedJson)
      n.put("scores", r.scoresJson)
      n.put("manifest", r.manifestJson)
      om.writeValueAsString(n)
    }
    Files.write(work.resolve("rows.jsonl"), lines.toSeq.asJava, StandardCharsets.UTF_8)

    val byName = rows.groupBy(_.path.split('/').last)
    val step = math.max(1, archives.length / 24)
    for (p <- archives.indices by step map archives) {
      val name = p.getFileName.toString
      val (client, domain, runDate) = names(p)
      val want = AuditEtl.processZip(Files.readAllBytes(p), client, domain, runDate)
      byName.get(name) match {
        case Some(Array(r)) if r.ok =>
          if (r.client != client || r.domain != domain || r.runDate != runDate ||
              r.normalizedJson != want.normalized.toJson ||
              r.scoresJson != want.scores.toJson || r.manifestJson != want.manifest.toJson)
            res.bad(name) = "distributed row differs from processZip on the same bytes"
        case _ => () // the document check reports missing, duplicate and failed rows
      }
    }
  }

  /** The kernel's layers, timed from outside: for each archive, the whole
    * `processZip` call, then each layer's public function called once per
    * entry the kernel reads. `etl.reduce_self_ms` is the kernel time the
    * layers do not account for: the per-source reduction, plus any entry
    * the kernel decodes more than once. */
  private def kernelLayers(archives: Seq[Path], probe: Probe, res: Main.Result): Unit = {
    val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val count = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def timed[T](layer: String, parent: Int)(f: => T): T = probe.span(layer, parent) { _ =>
      val t = System.nanoTime()
      try f finally ns(layer) += System.nanoTime() - t
    }
    probe.span("kernel_layers") { root =>
      for (p <- archives) {
        val bytes = Files.readAllBytes(p)
        val (client, domain, runDate) = names(p)
        probe.span("archive", root) { id =>
          val r = timed("etl.kernel", id)(AuditEtl.processZip(bytes, client, domain, runDate))
          val outer = timed("etl.unzip", id)(Zips.entries(bytes))
          val inner = outer.get("ahrefs_site_audit.zip").flatMap(b =>
            Try(timed("etl.unzip", id)(Zips.entries(b))).toOption)
          val all = outer.toSeq ++ inner.map(_.toSeq).getOrElse(Nil)
          count("etl.unzip_bytes") += all.map(_._2.length.toLong).sum
          for ((name, data) <- all if name.endsWith(".csv")) {
            count("etl.csv_rows") += timed("etl.csv", id)(SmartCsv.parse(data)).length
            count("etl.csv_bytes") += data.length
          }
          for ((name, data) <- outer if name.startsWith("lighthouse_") && name.endsWith(".json"))
            Try(timed("etl.lighthouse", id)(Lighthouse.parse(data)))
          timed("etl.scoring", id)(Scoring.computeScores(r.normalized))
          count("etl.json_bytes") += timed("etl.json", id)(
            r.normalized.toJson.length + r.scores.toJson.length + r.manifest.toJson.length)
        }
      }
    }
    def ms(layer: String): Double = ns(layer) / 1e6
    res.put("etl.kernel_ms", ms("etl.kernel"), "ms")
    res.put("etl.reduce_self_ms", ms("etl.kernel") - ms("etl.unzip") - ms("etl.csv") -
      ms("etl.lighthouse") - ms("etl.scoring"), "ms")
    res.put("etl.csv_ms", ms("etl.csv"), "ms")
    res.put("etl.csv_rows", count("etl.csv_rows").toDouble, "count")
    res.put("etl.csv_bytes", count("etl.csv_bytes").toDouble, "bytes")
    res.put("etl.unzip_ms", ms("etl.unzip"), "ms")
    res.put("etl.unzip_bytes", count("etl.unzip_bytes").toDouble, "bytes")
    res.put("etl.lighthouse_ms", ms("etl.lighthouse"), "ms")
    res.put("etl.scoring_ms", ms("etl.scoring"), "ms")
    res.put("etl.json_ms", ms("etl.json"), "ms")
    res.put("etl.json_bytes", count("etl.json_bytes").toDouble, "bytes")
  }
}
