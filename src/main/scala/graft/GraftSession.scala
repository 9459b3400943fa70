package graft

import org.apache.spark.sql.SparkSession

/** Single place where engine-wide session configuration lives, so every
  * entrypoint (Verify, Bench, tests) runs with identical semantics.
  *
  * - `spark.sql.shuffle.partitions` sized to the worker count (local mode);
  *   on a real cluster this is the one knob to retune (or rely on AQE
  *   coalescing, which is enabled by default in Spark 4).
  * - UTC session timezone: all timestamp arithmetic and serialization must
  *   be timezone-free to hash-match external oracles.
  * - `nanosAsLong`: the corpus's `events.parquet` carries TIMESTAMP(NANOS),
  *   which Spark's vectorized reader rejects; the legacy conf reads it as a
  *   raw long which `Tables.events` converts to µs. Set once here — it only
  *   affects NANOS-typed parquet columns, which no other corpus table has.
  */
object GraftSession {

  def local(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Checkpoint I/O without Hadoop's local-FS shell forks (no libhadoop
      // on this machine means RawLocalFileSystem execs `chmod`/`readlink`
      // per checkpoint-file create/rename — measured at ~170 ms per
      // state-store commit in round 20). NioCheckpointFileManager keeps
      // the identical atomic-rename protocol via java.nio for `file:`
      // roots and delegates to Spark's default manager for any
      // distributed-FS checkpoint, so the setting is deployment-safe.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      // The FileSystem-API sibling of the same pathology: every local file
      // CREATE (parquet data files, slice prep, staging writes) forked a
      // `chmod`. FastLocalFileSystem is stock LocalFileSystem (checksums
      // and all) over a raw layer that skips the fork; see the class doc.
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.FastLocalFileSystem")
      .config("spark.ui.enabled", "false")
      // Generated-code cache (static; sized when codegen first runs).
      // Spark's default of 100 classes is below a warm working set, so warm
      // queries recompile, in Janino and then in the JIT, the classes that
      // other queries evicted.
      // One warm pass of the 214-gate sweep generates 3,393 distinct
      // sources at sf0.01 (3,399 at sf0.001; 3 cores, a warm pass into an
      // emptied cache after a cold one). 4096 holds that set with room
      // for the per-segment LRU eviction and for the ~600 sources a sweep
      // pass generates afresh and never reuses (4,010 entries held 91 MB
      // of heap after two sweep passes).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    // Experiment hook (dev A/Bs only — never set by the driver):
    // semicolon-separated k=v pairs applied LAST, so an isolated profile
    // can toggle one conf against the shipped defaults in the same
    // session shape. E.g. SPARK_GRAFT_EXTRA_CONF=
    // "spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem".
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
