package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Multi-sf sweep: `sfDir` may be a comma-separated list of scale-factor
  * directories — each sweeps the FULL query surface into its own
  * subdirectory of `outDir` (named after the sf directory), proving in one
  * invocation that the corpus-derived oracles (LSH planes, IVF centroids,
  * Lloyd sample threshold) track n. A single sfDir keeps the driver's
  * original flat layout. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDirs, outDir) = (args(0), args(1))
    // Optional 3rd arg (dev iteration only; the driver passes two): a
    // comma-separated subset of query names to dump.
    val only: Set[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Marker only (no bench lock — correctness runs don't need timing
    // isolation): makes this JVM visible to any concurrent bench's
    // other_graft_jvms contamination stamp.
    RunCoord.registerJvm()
    val spark = GraftSession.local(cpus)
    val sweeps = sfDirs.split(',').map(_.trim).filter(_.nonEmpty)
    sweeps.foreach { sfDir =>
      val out = if (sweeps.length == 1) outDir
        else s"$outDir/${Paths.get(sfDir).getFileName}"
      new java.io.File(out).mkdirs()
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // Jackson escapes backslash, quote and every control char — a tab or
    // CR in hand-written SQL would otherwise make the oracle compare's
    // json.load fail and silently zero the round's correctness.
    val json = Bench.Json.writeValueAsString(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (sweeps.length > 1) sweeps.foreach { sfDir =>
      Files.writeString(Paths.get(
        s"$outDir/${Paths.get(sfDir).getFileName}/oracle_sql.json"), json)
    }
    spark.stop()
  }
}
