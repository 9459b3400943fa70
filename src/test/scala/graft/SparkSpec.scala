package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for Spark-level specs (small worker count:
  * these test semantics, not throughput). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local("2")
  override def afterAll(): Unit = { /* shared across suites; leave running */ }

  /** Spark jobs started, on any thread, while `body` runs. The listener bus
    * is async, so after `body` one job tagged with its own job group runs,
    * and the count is read once THAT job's start event has arrived (an
    * untagged wait could be satisfied by one of `body`'s jobs): every job
    * `body` started was posted before it. The sentinel is an RDD count, not
    * a Dataset count, which AQE can split into two jobs. */
  def jobsDuring(body: => Unit): Int = {
    val group = "spark-spec-sentinel"
    val sentinel = new AtomicInteger(0)
    val others = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull == group)
          sentinel.incrementAndGet()
        else others.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(group, "SparkSpec sentinel")
      try spark.sparkContext.range(0, 10).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (sentinel.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinel.get() == 1, "sentinel job start never observed")
      others.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
