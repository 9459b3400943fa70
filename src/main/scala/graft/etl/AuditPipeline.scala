package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Distributed audit processing: the reference runs ONE zip per actor
  * invocation (/root/reference/src/main.js:27-38); the Spark-native shape
  * is a Dataset of archives → one result row per archive, with the pure
  * per-archive kernel (AuditEtl.processZip) mapped in executors.
  *
  * Scale notes: the driver lists the archives through the file index of a
  * `binaryFile` relation (no job, no bytes read) and packs them by size
  * into balanced slots, largest first; each slot prefers the hosts that
  * hold most of its bytes, as a scan partition does, and its task opens
  * its own archives through Hadoop `FileSystem`, so archive bytes never
  * pass through a scan row. Results are three JSON documents per archive — a columnar
  * Dataset, writable to parquet or fanned out as per-audit JSON files (the
  * reference's KV-store layout). Nothing is collected to the driver.
  */
object AuditPipeline {

  final case class AuditJob(path: String, client: String, domain: String,
                            runDate: String, content: Array[Byte])
  final case class AuditRow(path: String, client: String, domain: String,
                            runDate: String, ok: Boolean, error: String,
                            normalizedJson: String, scoresJson: String,
                            manifestJson: String)

  /** One listed archive: its path as the file index qualifies it, its
    * length at listing time (the packing weight), and the hosts of its
    * largest block (a `FileScanRDD` split's hosts for a whole file). */
  private[etl] final case class Archive(path: Path, length: Long, hosts: Seq[String])

  /** Slots per core: enough that a slow archive is not the whole pass. */
  private[etl] val BinsPerCore = 4

  /** The largest archive one task buffers whole: the JDK's soft array
    * limit. A larger archive is that archive's `ok=false` row. */
  private[etl] val MaxArchiveBytes: Long = Int.MaxValue - 8

  /** Process every `*.zip` under `dir` (recursively). Client/domain default
    * from the file name (client__domain__runDate.zip, else stem). */
  def processDir(spark: SparkSession, dir: String): Dataset[AuditRow] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bins = pack(listArchives(spark, dir), BinsPerCore * sc.defaultParallelism,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val conf = sc.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    spark.createDataset(sc.makeRDD(bins.map(bin => bin -> preferredHosts(bin)))
      .flatMap(bin => bin.iterator.map(processArchive(_, conf.value.value))))
  }

  /** The three hosts holding the most of a bin's bytes, `localhost` left
    * out — the rule `FilePartition.preferredLocations` applies to a scan
    * partition, so a bin's task is scheduled where its archives are. */
  private[etl] def preferredHosts(bin: Seq[Archive]): Seq[String] =
    bin.flatMap(a => a.hosts.filter(_ != "localhost").map(_ -> a.length))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortBy { case (host, bytes) => (-bytes, host) }.take(3).map(_._1)

  /** The `*.zip` files under `dir` exactly as a `binaryFile` scan sees
    * them (glob, recursive lookup, hidden-file and empty-file rules), read
    * off the relation's file index on the driver. */
  private[etl] def listArchives(spark: SparkSession, dir: String): Seq[Archive] = {
    val plan = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .queryExecution.analyzed
    val index = plan.collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(r: HadoopFsRelation) => r.location
      case other => throw new IllegalStateException(s"binaryFile resolved to $other")
    }
    index.listFiles(Nil, Nil).flatMap(_.files).map { f =>
      val hosts = f.fileStatus match {
        case l: LocatedFileStatus if l.getBlockLocations.nonEmpty =>
          l.getBlockLocations.maxBy(_.getLength).getHosts.toSeq
        case _ => Nil
      }
      Archive(f.getPath, f.getLen, hosts)
    }
  }

  /** Longest-processing-time-first packing (Graham 1969): archives in
    * decreasing size, each into the least-loaded bin. `minBins` bins (fewer
    * only when there are fewer archives); an archive that would push a
    * non-empty bin past `maxBinBytes` opens a new bin instead, so only a
    * single archive can exceed it. Ties break on the path, so the packing
    * is deterministic. */
  private[etl] def pack(archives: Seq[Archive], minBins: Int,
                        maxBinBytes: Long): Seq[Seq[Archive]] = {
    final class Bin(val id: Int) {
      var load = 0L
      val items = mutable.ArrayBuffer.empty[Archive]
    }
    val heap = mutable.PriorityQueue.empty[Bin](
      Ordering.by((b: Bin) => (b.load, b.id)).reverse)
    val bins = mutable.ArrayBuffer.tabulate(math.min(archives.length, math.max(1, minBins)))(new Bin(_))
    heap ++= bins
    for (a <- archives.sortBy(a => (-a.length, a.path.toString))) {
      val least = heap.dequeue()
      val bin =
        if (least.items.isEmpty || least.load + a.length <= maxBinBytes) least
        else { heap.enqueue(least); val b = new Bin(bins.length); bins += b; b }
      bin.items += a
      bin.load += a.length
      heap.enqueue(bin)
    }
    bins.map(_.items.toSeq).toSeq
  }

  /** Reads one archive through Hadoop `FileSystem` and maps it through
    * [[process]]. A read error, or an archive over `maxBytes`, is that
    * archive's `ok=false` row. */
  private[etl] def processArchive(a: Archive, conf: Configuration,
                                  maxBytes: Long = MaxArchiveBytes): AuditRow = {
    val path = a.path.toString
    val stem = path.split('/').last.stripSuffix(".zip")
    val parts = stem.split("__")
    val (client, domain, runDate) =
      if (parts.length == 3) (parts(0), parts(1), parts(2))
      else (stem, stem, "")
    try {
      val fs = a.path.getFileSystem(conf)
      val len = fs.getFileStatus(a.path).getLen
      if (len > maxBytes)
        throw new java.io.IOException(s"$path is $len bytes, over the $maxBytes-byte limit")
      val content = new Array[Byte](len.toInt)
      val in = fs.open(a.path)
      try in.readFully(content) finally in.close()
      process(AuditJob(path, client, domain, runDate, content))
    } catch {
      case NonFatal(e) => failed(path, client, domain, runDate, e)
    }
  }

  def process(job: AuditJob): AuditRow =
    try {
      val r = AuditEtl.processZip(job.content, job.client, job.domain, job.runDate)
      AuditRow(job.path, job.client, job.domain, job.runDate, ok = true, error = "",
        r.normalized.toJson, r.scores.toJson, r.manifest.toJson)
    } catch {
      case NonFatal(e) => failed(job.path, job.client, job.domain, job.runDate, e)
    }

  private def failed(path: String, client: String, domain: String, runDate: String,
                     e: Throwable): AuditRow =
    AuditRow(path, client, domain, runDate, ok = false, error = e.toString,
      normalizedJson = "", scoresJson = "", manifestJson = "")

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
