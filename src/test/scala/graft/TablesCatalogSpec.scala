package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.TimestampType

/** The per-session table catalog: a warm load runs no job, a cached schema
  * is exactly what inference returns, a rewrite is re-inferred, concurrent
  * first loads infer once, and schemas never cross sessions. */
class TablesCatalogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def tmp(): String = Files.createTempDirectory("tables_catalog_").toString

  test("every corpus table loads with the schema a fresh read infers, metadata included") {
    for (t <- Tables.names) {
      val fresh = spark.read.parquet(s"$sf/$t.parquet").schema
      val loaded = Tables.load(spark, sf, t).schema
      assert(loaded == fresh, t)
      assert(loaded.json == fresh.json, t) // the JSON form carries field metadata
    }
  }

  test("a warm load runs no Spark job") {
    Tables.names.foreach(Tables.load(spark, sf, _))
    assert(jobsDuring(Tables.names.foreach(Tables.load(spark, sf, _))) == 0)
    assert(jobsDuring(Tables.events(spark, sf)) == 0)
  }

  test("a table rewritten at the same path with an extra column shows that column") {
    val dir = tmp()
    spark.range(5).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(5).selectExpr("id AS a", "id * 10 AS b").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.selectExpr("sum(b)").head().getLong(0) == 100)
  }

  test("eight threads loading a table for the first time infer its schema once") {
    val dir = tmp()
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(s"$dir/t.parquet")
    val pool = Executors.newFixedThreadPool(8)
    try {
      val go = new CountDownLatch(1)
      val jobs = jobsDuring {
        val loads = Seq.fill(8)(pool.submit(() => { go.await(); Tables.load(spark, dir, "t").schema }))
        go.countDown()
        loads.foreach(f => assert(f.get(60, TimeUnit.SECONDS).fieldNames.toSeq == Seq("id", "v")))
      }
      assert(jobs == 1, s"$jobs inference jobs for one table")
    } finally pool.shutdown()
  }

  /** An `events` table whose `ts` is INT64 TIMESTAMP(NANOS), the layout
    * Spark cannot write itself. */
  private def nanosEvents(dir: String, ns: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try ns.zipWithIndex.foreach { case (t, i) => w.write(rows.newGroup().append("id", i.toLong).append("ts", t)) }
    finally w.close()
  }

  test("events.ts: both parquet layouts load as microsecond timestamps") {
    val ns = Seq(1700000000123456789L, 1700000001000000999L, 0L)
    val nanos = tmp()
    nanosEvents(nanos, ns)
    val micros = tmp()
    spark.range(3).selectExpr("id", "CAST(timestamp_micros(1700000000123456 + id) AS TIMESTAMP_NTZ) AS ts")
      .write.parquet(s"$micros/events.parquet")
    for ((dir, want) <- Seq(nanos -> ns.map(_ / 1000), micros -> (0 until 3).map(1700000000123456L + _))) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, dir)
      assert(ev.orderBy("id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq == want)
    }
  }

  test("schemas are kept per session") {
    val dir = tmp()
    nanosEvents(dir, Seq(1700000000123456789L))
    assert(Tables.events(spark, dir).count() == 1)
    // Without nanosAsLong, inference rejects TIMESTAMP(NANOS); a catalog
    // shared across sessions would hand this session the other's schema.
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[Exception](Tables.events(other, dir))
    assert(e.getMessage.contains("NANOS"), e.getMessage)
    // The other session's own inference job runs; the first's stays warm.
    assert(jobsDuring(Tables.events(spark, dir)) == 0)
  }
}
