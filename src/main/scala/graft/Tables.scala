package graft

import graft.operators.{MaterializeOnce, Memo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * Each loader is a plain parquet scan: Catalyst handles column pruning and
  * predicate pushdown, so callers should select/filter directly on the result
  * and let the optimizer reach the scan. At cluster scale the same paths work
  * against partitioned directories; nothing here assumes local mode.
  *
  * A bare `spark.read.parquet` runs one schema-inference job per call. The
  * loaders go through a per-session catalog instead ([[load]]), which
  * infers a table's schema once and then scans with it, so a warm load runs
  * no job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet schemas, per session and then per (path, source
    * fingerprint). Per session, because the session's parquet settings
    * shape what inference returns (e.g. `nanosAsLong`); weakly held, so a
    * stopped session's schemas go with it. The fingerprint
    * ([[MaterializeOnce.fingerprint]]) changes when a table is rewritten
    * at the same path, so the rewrite's schema is inferred afresh. */
  private val catalogs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Memo[(String, String), StructType]]())

  /** A parquet scan of `$sfDir/$table.parquet` with its catalogued schema,
    * inferred once per (session, path, fingerprint). A path the
    * fingerprint cannot see (a missing or non-local one) is a bare read,
    * inferred on every call. */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val fp = MaterializeOnce.fingerprint(path)
    if (fp == "absent") spark.read.parquet(path)
    else spark.read.schema(catalogs.computeIfAbsent(spark, _ => new Memo)((path, fp))(
      spark.read.parquet(path).schema)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalized to session-zoned TimestampType (µs), whatever
    * physical type the generated parquet carries — the driver has shipped
    * BOTH layouts across rounds:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; under the
    *    `nanosAsLong` legacy conf (GraftSession sets it at build) it reads
    *    as a raw long, truncated here to µs with integer division — the
    *    same ns→µs truncation DuckDB applies internally. The division
    *    stays in long space: ns-since-epoch (~1.7e18) exceeds double's
    *    53-bit mantissa, so a float path would corrupt timestamps.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads natively as
    *    TIMESTAMP_NTZ; cast to TimestampType under the UTC session zone —
    *    the identical instants the legacy path produced, so every
    *    downstream date_trunc/date_format/window keeps its semantics.
    * Dispatch is on the READ schema, not the conf, so either layout works
    * in any session.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` surfaces the corpus.
    * `events` goes through its dedicated loader so the view carries proper
    * microsecond timestamps (a bare load() would either throw on
    * TIMESTAMP(NANOS) or expose raw nanos longs). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
