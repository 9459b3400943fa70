package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Distributed audit processing: the reference runs ONE zip per actor
  * invocation (/root/reference/src/main.js:27-38); the Spark-native shape
  * is a DataFrame of archives → one result row per archive, with the pure
  * per-archive kernel (AuditEtl.processZip) mapped in executors.
  *
  * Scale notes: `binaryFile` is Spark's built-in many-small-binaries
  * source (each archive ≤ spark.sql.files.maxPartitionBytes lands in one
  * task); results are three JSON documents per archive — a columnar
  * DataFrame, writable to parquet or fanned out as per-audit JSON files
  * (the reference's KV-store layout). Nothing is collected to the driver.
  */
object AuditPipeline {

  final case class AuditJob(path: String, client: String, domain: String,
                            runDate: String, content: Array[Byte])
  final case class AuditRow(path: String, client: String, domain: String,
                            runDate: String, ok: Boolean, error: String,
                            normalizedJson: String, scoresJson: String,
                            manifestJson: String)

  /** Process every `*.zip` under `dir` (recursively). Client/domain default
    * from the file name (client__domain__runDate.zip, else stem). */
  def processDir(spark: SparkSession, dir: String): Dataset[AuditRow] = {
    import spark.implicits._
    val bins = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    bins.map { case (path, content) =>
      val stem = path.split('/').last.stripSuffix(".zip")
      val parts = stem.split("__")
      val (client, domain, runDate) =
        if (parts.length == 3) (parts(0), parts(1), parts(2))
        else (stem, stem, "")
      process(AuditJob(path, client, domain, runDate, content))
    }
  }

  def process(job: AuditJob): AuditRow =
    try {
      val r = AuditEtl.processZip(job.content, job.client, job.domain, job.runDate)
      AuditRow(job.path, job.client, job.domain, job.runDate, ok = true, error = "",
        r.normalized.toJson, r.scores.toJson, r.manifest.toJson)
    } catch {
      case NonFatal(e) =>
        AuditRow(job.path, job.client, job.domain, job.runDate, ok = false,
          error = e.toString, normalizedJson = "", scoresJson = "", manifestJson = "")
    }

  /** Columnar result surface (for parquet/SQL over many audits). */
  def toFrame(rows: Dataset[AuditRow]): DataFrame = rows.toDF()

  /** Typed scores surface: one row per successful audit with the scalar
    * score fields lifted out of scores.json — the cross-client analytics
    * the one-archive-at-a-time reference cannot express (rank clients by
    * OSS, coverage distributions, score-over-time joins...). */
  def scoresFrame(rows: Dataset[AuditRow]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "oss DOUBLE, oss_coverage DOUBLE, oss_weight_used DOUBLE, " +
      "oss_weight_total DOUBLE, lss DOUBLE, lss_coverage DOUBLE, " +
      "lss_weight_used DOUBLE, lss_weight_total DOUBLE")
    rows.toDF()
      .filter(col("ok"))
      .select(col("client"), col("domain"), col("runDate"),
        from_json(col("scoresJson"), schema).as("s"))
      .select(col("client"), col("domain"), col("runDate"), col("s.*"))
  }

  /** KV-store-style sink (reference parity: main.js:30-32 writes
    * normalized_audit.json / scores.json / etl_manifest.json): one
    * directory per audit. Driver-side utility for single audits and tests;
    * the distributed path writes `toFrame(...).write.parquet`. */
  def writeKv(outDir: String, r: AuditEtl.Result): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/normalized_audit.json"), r.normalized.toJson)
    Files.writeString(Paths.get(s"$outDir/scores.json"), r.scores.toJson)
    Files.writeString(Paths.get(s"$outDir/etl_manifest.json"), r.manifest.toJson)
  }

  /** The reference's key-value store surface (`Actor.setValue`). */
  trait KvStore {
    def set(name: String, bytes: Array[Byte]): Unit
    final def set(name: String, json: String): Unit =
      set(name, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One directory = one store; each key is a file. */
  final class DirKvStore(dir: String) extends KvStore {
    Files.createDirectories(Paths.get(dir))
    def set(name: String, bytes: Array[Byte]): Unit =
      Files.write(Paths.get(dir, name), bytes)
  }

  /** JS truthiness of an input field (main.js:17 `!client || ...`):
    * absent, null, "", 0, NaN and false fail validation; non-empty
    * strings, non-zero numbers, true, and ANY object or array are truthy
    * (the reference would proceed with them and stringify downstream). */
  private def truthyInput(in: J.JObj, key: String): Option[String] =
    in.opt(key).flatMap {
      case J.JStr(s) if s.nonEmpty => Some(s)
      case J.JNum(d) if d != 0 && !d.isNaN => Some(J.JNum(d).toJson)
      case J.JBool(true) => Some("true")
      case o: J.JObj => Some(o.toJson)
      case a: J.JArr => Some(a.toJson)
      case _ => None
    }

  /** The full actor entry contract (reference parity: main.js:4-41):
    *
    *   1. echo the raw input to INPUT_ECHO.json BEFORE validating
    *      (main.js:15 — a bad run must still show what it received);
    *   2. validate the four required fields with the reference's exact
    *      message (main.js:17-22);
    *   3. fetch the ZIP; a non-ZIP body dumps ZIP_DEBUG.bin (etl.js:102-108)
    *      and the keywords extractor dumps ahrefs_keywords_headers.json
    *      (etl.js:119-121) — both through the same KV store;
    *   4. write the three result documents plus the OUTPUT pointer record
    *      that downstream consumers read first (main.js:30-38).
    *
    * @param input the raw input document, or None for a missing input
    *   (`Actor.getInput()` returning null — echoed as `{}`).
    * @param fetch URL → bytes; injectable so tests run offline.
    */
  def runActor(input: Option[J.JObj], kv: KvStore,
               fetch: String => Array[Byte] = ZipFetch.fetch,
               log: EtlLog = EtlLog()): AuditEtl.Result = {
    val in = input.getOrElse(J.JObj())
    kv.set("INPUT_ECHO.json", in.toJson)
    // Input echo breadcrumb BEFORE validation (main.js:9-14): a bad run
    // must still show what it received.
    log.info("Input received",
      "client" -> in.opt("client").map(_.toJson).getOrElse("null"),
      "domain" -> in.opt("domain").map(_.toJson).getOrElse("null"),
      "runDate" -> in.opt("runDate").map(_.toJson).getOrElse("null"),
      "hasZipUrl" -> truthyInput(in, "zipUrl").isDefined.toString)
    val fields = Seq("client", "domain", "runDate", "zipUrl").map(truthyInput(in, _))
    if (fields.exists(_.isEmpty))
      throw new IllegalArgumentException(
        "Missing required input: client, domain, runDate, zipUrl. " +
        "Paste JSON under the Input tab (not only Run options).")
    val Seq(client, domain, runDate, zipUrl) = fields.map(_.get)
    val bytes = fetch(zipUrl)
    val r = AuditEtl.processZip(bytes, client, domain, runDate,
      artifact = (name, data) => kv.set(name, data), log = log)
    kv.set("normalized_audit.json", r.normalized.toJson)
    kv.set("scores.json", r.scores.toJson)
    kv.set("etl_manifest.json", r.manifest.toJson)
    kv.set("OUTPUT", J.JObj(
      "normalized" -> J.str("normalized_audit.json"),
      "scores" -> J.str("scores.json"),
      "etl_manifest" -> J.str("etl_manifest.json")).toJson)
    r
  }
}
