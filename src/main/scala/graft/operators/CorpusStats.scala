package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Memoized per-corpus scalar statistics (row count, max id).
  *
  * The ANN/dedup queries derive their index geometry from the corpus row
  * count (planes per band, centroid count, sample gate) and split
  * incremental-dedup corpora at a fraction of the id space — both need a
  * scalar that is CONSTANT per corpus. Before this cache each gate query
  * re-ran a Spark job (`emb.count()`, `agg(max(id)).head`) for that
  * constant on every invocation: bounded scalar actions, not a collect
  * anti-pattern, but 1-2 pure-overhead jobs per query (a measurable chunk
  * of the small-corpus warm time, and at 100 TB a full-corpus scan each).
  *
  * Both statistics come from ONE aggregation job and are memoized under the
  * same key discipline as [[MaterializeOnce]]: the key embeds the source
  * fingerprint, so a corpus regenerated at the same path within one JVM is
  * re-counted rather than served stale. The store is a [[Memo]], so the
  * aggregation job runs outside any map lock, and the table is read through
  * the session's catalog ([[graft.Tables.load]]).
  */
object CorpusStats {

  /** (rowCount, maxId). */
  final case class Stats(n: Long, maxId: Long)

  private val cache = new Memo[String, Stats]

  /** Number of stat jobs run so far this JVM (spec hook: asserts the
    * memoization actually eliminates repeat jobs). Atomic — a plain
    * volatile += is a lost-update race under concurrent first
    * computations of distinct keys. */
  private val computeCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def computes: Int = computeCount.get()

  /** Row count and max of `idCol` for `$dir/$table.parquet`, computed in a
    * single Spark job per (dir, table, source fingerprint) per JVM. */
  def of(s: SparkSession, dir: String, table: String, idCol: String): Stats =
    cache(s"$dir|$table|$idCol|${MaterializeOnce.fingerprint(dir, s"$table.parquet")}") {
      computeCount.incrementAndGet()
      val r = graft.Tables.load(s, dir, table)
        .agg(org.apache.spark.sql.functions.count(lit(1)),
             max(col(idCol).cast("long"))).head()
      Stats(r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }

  def count(s: SparkSession, dir: String, table: String, idCol: String): Long =
    of(s, dir, table, idCol).n

  def maxId(s: SparkSession, dir: String, table: String, idCol: String): Long =
    of(s, dir, table, idCol).maxId
}
