package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftSession

/** One benchmark run in a fresh JVM: set up the session, run one workload,
  * check its outputs, and write what it measured as JSON.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --seconds S
  *          --trace 0|1 --threads N --launch-ms EPOCH_MS
  *
  * `--launch-ms` is the wall-clock time at which the caller started this
  * JVM, so `setup_s` covers JVM start as well as session set-up.
  */
object Main {

  /** What a run hands back: metrics, the units of work it attempted (one
    * archive or one gate each), how many times it ran each of them, and the
    * units whose outputs it found wrong. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var units: Seq[String] = Nil
    var passes = 0
    val bad = mutable.LinkedHashMap.empty[String, String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work"))
    val threads = opt("threads").toInt

    val spark = GraftSession.local(threads.toString)
    // First touch: one trivial job loads the scheduler, codegen and
    // shuffle classes that every workload needs.
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1000.0

    val probe = new Probe(spark, opt("trace") == "1")
    val res = new Result
    res.put("setup_s", setupS, "s")
    val seconds = opt("seconds").toDouble
    workload match {
      case "audit-bulk" | "audit-many" =>
        AuditWorkload.run(spark, opt("input"), work, seconds, threads, probe, res)
      case "gates" =>
        GateWorkload.run(spark, opt("input"), work, seconds, threads, probe, res)
    }
    probe.writeSpans(work.resolve("spans.jsonl"))
    // A traced run reports every per-layer metric; a layer the workload
    // does not exercise reads 0.
    if (probe.on) for ((k, unit) <- PerLayer if !res.metrics.contains(k)) res.put(k, 0.0, unit)

    val om = new ObjectMapper
    val out = om.createObjectNode()
    out.put("passes", res.passes)
    val units = out.putArray("units")
    res.units.foreach(units.add)
    val bad = out.putObject("bad")
    res.bad.foreach { case (k, v) => bad.put(k, v) }
    val ms = out.putObject("metrics")
    res.metrics.foreach { case (k, (v, u)) =>
      val m = ms.putObject(k)
      m.put("value", v)
      m.put("unit", u)
    }
    Files.writeString(work.resolve("result.json"), om.writeValueAsString(out))
    spark.stop()
  }

  val PerLayer: Seq[(String, String)] =
    Seq("etl.kernel_ms", "etl.reduce_self_ms", "etl.csv_ms").map(_ -> "ms") ++
    Seq("etl.csv_rows" -> "count", "etl.csv_bytes" -> "bytes", "etl.unzip_ms" -> "ms",
      "etl.unzip_bytes" -> "bytes", "etl.lighthouse_ms" -> "ms", "etl.scoring_ms" -> "ms",
      "etl.json_ms" -> "ms", "etl.json_bytes" -> "bytes",
      "pipeline.construct_ms" -> "ms", "pipeline.exec_ms" -> "ms",
      "pipeline.archives" -> "count", "run.warmup_passes" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.task_gc_ms" -> "ms",
      "spark.slot_busy_share" -> "share", "spark.input_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "gates.construct_ms" -> "ms", "gates.construct_jobs" -> "count",
      "gates.plan_ms" -> "ms", "gates.exec_ms" -> "ms", "gates.exec_jobs" -> "count") ++
    GateWorkload.Packs.map { case (p, _) => s"gates.$p.warm_ms" -> "ms" } ++
    GateWorkload.Gates.flatMap(g => Seq(s"gate.$g.warm_ms" -> "ms", s"gate.$g.jobs" -> "count")) ++
    Seq("pin.relations" -> "count", "stream.triggers" -> "count", "stream.trigger_ms" -> "ms",
      "stream.commit_ms" -> "ms", "stream.state_rows" -> "count",
      "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms")

  /** A warm pass may be at most 3% faster than the fastest warm pass before
    * it for pass time to count as levelled. */
  val LevelShare = 0.97

  /** `processDir` keeps speeding up for about five passes after the cold
    * one; fewer warm-up passes left the timed passes on the slope. */
  val MinWarmupPasses = 5

  /** The warm-up rule of every workload: after the cold pass, warm-up
    * passes run for at least `seconds` and at least `MinWarmupPasses`
    * passes, then until a pass is no more than 3% faster than the fastest
    * warm-up pass before it, and stop at three times `seconds` whatever the
    * trend. `pass` returns its wall time in seconds; the result is the
    * number of warm-up passes. */
  def warmUp(seconds: Double)(pass: () => Double): Int = {
    val walls = mutable.ArrayBuffer(pass())
    def levelled: Boolean = {
      val spent = walls.sum
      spent >= 3 * seconds || spent >= seconds && walls.length >= MinWarmupPasses &&
        walls.last >= LevelShare * walls.init.min
    }
    while (!levelled) walls += pass()
    walls.length
  }

  /** Runs `pass` until `seconds` have elapsed, whole passes only and at
    * least `minPasses` of them; returns each pass's result. */
  def timed[T](seconds: Double, minPasses: Int)(pass: () => T): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    val start = System.nanoTime()
    while (out.length < minPasses || (System.nanoTime() - start) / 1e9 < seconds)
      out += pass()
    out.toSeq
  }

  /** Engine counters of the timed window, per timed pass. */
  def engineMetrics(before: Map[String, Double], after: Map[String, Double],
                    passes: Int, wallMs: Double, threads: Int, res: Result): Unit = {
    def d(k: String): Double = after(k) - before(k)
    for ((k, unit) <- Seq("spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
        "spark.task_gc_ms" -> "ms", "spark.input_bytes" -> "bytes",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes"))
      res.put(k, d(k) / passes, unit)
    res.put("spark.slot_busy_share",
      if (wallMs > 0) d("spark.task_run_ms") / (wallMs * threads) else 0.0, "share")
  }
}
