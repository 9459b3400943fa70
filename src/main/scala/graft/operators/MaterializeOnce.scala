package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Materialize-once store: relation key → temp parquet path. The
  * cluster-scale move ("write derived relations — signatures, indexes —
  * to a table before reusing them") done locally: nothing is pinned in
  * executor memory, every consumer reads the same on-disk relation, and
  * the derivation runs exactly once per (key, source fingerprint).
  *
  * Used by the MinHash/trigram dedup pipelines (shingle/trigram tables)
  * and the IVF index (trained centroids) — the same pattern a production
  * deployment would express as `CREATE TABLE ... AS` into a warehouse.
  *
  * Lifecycle: the root lives under `spark.local.dir` (the same filesystem
  * contract Spark's own shuffle/spill files use — on a cluster deploy it
  * must be pointed at a shared path via `spark.graft.materializeDir`,
  * asserted below) and the whole root is deleted by a JVM shutdown hook,
  * so repeated bench/test runs don't accumulate orphaned graft_mat_*
  * directories. Callers embed a data fingerprint (see [[fingerprint]]) in
  * the key so a corpus regenerated at the same path within one JVM is
  * re-materialized rather than served stale. The store is a [[Memo]], so
  * the write job runs once per key, outside any map lock. It keeps each
  * relation's path with its schema, inferred once right after the write
  * (the files never change after that), and every call reads the relation
  * back with that schema: no schema-inference job per call.
  */
object MaterializeOnce {

  private val materialized = new Memo[String, (String, StructType)]
  @volatile private var matRootCache: java.nio.file.Path = _

  private def matRoot(s: SparkSession): java.nio.file.Path = synchronized {
    if (matRootCache == null) {
      // On a distributed deploy a driver-local temp path would silently
      // produce partial relations (executors write part files to their own
      // disks): require an explicitly configured shared root there.
      val configured = s.conf.getOption("spark.graft.materializeDir")
      require(s.sparkContext.isLocal || configured.isDefined,
        "MaterializeOnce needs spark.graft.materializeDir (a shared filesystem path) on a non-local master")
      // spark.local.dir may be a comma-separated list (Spark's documented
      // multi-disk form) — take the first entry for the local store root.
      val base = java.nio.file.Paths.get(configured.getOrElse(
        s.conf.getOption("spark.local.dir").getOrElse(sys.props("java.io.tmpdir")))
        .split(',').head.trim)
      val root = java.nio.file.Files.createTempDirectory(base, "graft_mat_")
      sys.addShutdownHook {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(root)) {
          val all = Files.walk(root).iterator().asScala.toSeq
          all.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
        }
      }
      matRootCache = root
    }
    matRootCache
  }

  /** Source-data fingerprint: file count + max mtime + total byte size of
    * the files under the table path (a file or a parquet directory). Cheap
    * driver-side listing; changes whenever the corpus at `dir` is
    * regenerated. The byte-size component guards the window where a
    * rewrite lands within the filesystem's mtime granularity with the
    * same file count — only an identically-sized same-second rewrite can
    * alias, which parquet's non-deterministic encoding makes vanishingly
    * unlikely. */
  def fingerprint(dir: String, table: String): String =
    fingerprint(java.nio.file.Paths.get(dir, table).toString)

  def fingerprint(path: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(path)
    if (!Files.exists(p)) "absent"
    else {
      val files = scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
      val maxM = if (files.isEmpty) 0L else files.map(Files.getLastModifiedTime(_).toMillis).max
      val bytes = files.map(Files.size(_)).sum
      s"${files.size}:$maxM:$bytes"
    }
  }

  /** Number of relations materialized so far this JVM — lets the bench
    * attribute a cold run's one-time index-build cost to the query that
    * paid it (the `materializes` annotation). */
  def relationCount: Int = materialized.size

  def apply(key: String, s: SparkSession)(df: => DataFrame): DataFrame = {
    val (path, schema) = materialized(key) {
      val p = java.nio.file.Files.createTempDirectory(matRoot(s), "t_").toString
      df.write.mode("overwrite").parquet(p)
      (p, s.read.parquet(p).schema)
    }
    s.read.schema(schema).parquet(path)
  }
}
