package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all attached from outside the program:
  * spans around the harness's own calls into each layer, plus counters fed
  * by listeners this harness registers (Spark scheduler, query execution,
  * streaming progress) and by the JVM's management beans.
  *
  * With tracing off, `span` only runs its body and no listener exists, so
  * the untraced run times the program alone.
  */
final class Probe(spark: SparkSession, val on: Boolean) {
  private final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private var nextId = 0

  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = counters.synchronized { counters(key) += v }
  def snapshot(): Map[String, Double] = {
    drain()
    counters.synchronized(counters.toMap).withDefaultValue(0.0)
  }

  /** Runs `body` inside a span named `name` under `parent` (0 = root);
    * the body receives the new span's id for its children. */
  def span[T](name: String, parent: Int = 0)(body: Int => T): T =
    if (!on) body(0)
    else {
      nextId += 1
      val id = nextId
      val s = System.nanoTime()
      try body(id) finally spans += Span(id, parent, name, s, System.nanoTime())
    }

  /** Waits until every listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def writeSpans(path: Path): Unit = if (on) {
    val lines = spans.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${(s.start - origin) / 1000},"end_us":${(s.end - origin) / 1000}}"""
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          add("spark.tasks", 1)
          add("spark.task_run_ms", m.executorRunTime.toDouble)
          add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
          add("spark.task_gc_ms", m.jvmGCTime.toDouble)
          add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      // Only the harness's own noop writes report "overwrite"; the phases
      // of writes a gate runs while it is being built are not plan time
      // of the measured query.
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") {
          val phases = qe.tracker.phases
          add("gates.plan_ms", Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs.toDouble).sum)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("stream.triggers", 1)
        add("stream.trigger_ms", ms("triggerExecution"))
        add("stream.commit_ms", ms("walCommit") + ms("commitOffsets"))
        add("stream.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      }
    })
  }
}

object Probe {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
