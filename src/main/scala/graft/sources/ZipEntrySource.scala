package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 table over ZIP archives: one row per (archive, entry).
  *
  *   spark.read.format("graft-zip")
  *     .option("nested", "true")        // traverse one level of inner ZIPs
  *     .load("/data/audits")            // dir (recursive) or single file
  *
  * Schema: archive, entry, nested, method, compressed, size, content.
  *
  * This is the SURVEY §4.3 "DSv2 TableProvider only at scale" path for the
  * S1/S5 sources: `etl.AuditPipeline.processDir` reads each archive whole
  * in its task and always materializes all bytes; this table
  * plans one InputPartition per archive (ZIP is not splittable — the
  * central directory is global), prunes columns, and pushes entry/archive
  * predicates down to the reader, where they gate DECOMPRESSION:
  *
  *  - `content` not required → the reader issues POSITIONED reads for the
  *    archive tail and central directory only (ZipCentral over a
  *    [[HadoopZipSource]]) and inflates nothing — a manifest query over
  *    100 TB of archives TRANSFERS archive tails, not archive bodies
  *    (ranged GETs on s3a; `ZipScanMetrics.bytesRead` proves it);
  *  - pushed `entry`/`archive`/`nested`/`method` predicates are evaluated
  *    on central-directory metadata BEFORE any data-span read, so
  *    `entry = 'report.csv'` reads + inflates exactly one entry per
  *    archive (two ranged reads: local header, compressed span);
  *  - ZIP64 archives (>4 GiB, >65535 entries) list and inflate via the
  *    ZIP64 EOCD locator/record and 0x0001 extra fields — only a single
  *    ENTRY past ~2 GiB is rejected (JVM array bound);
  *  - the scan reports post-pushdown statistics (SupportsReportStatistics)
  *    from the central directories, so a small filtered zip relation
  *    broadcast-joins instead of defaulting to sort-merge.
  *
  * At cluster scale the FileSystem listing and opens go through the Hadoop
  * conf captured from the driver and broadcast once per scan, so the same
  * code reads file://, hdfs:// or s3a:// archives. I/O and inflation work
  * are observable via [[ZipScanMetrics]] (process-wide counters; exact in
  * local[n], per-executor telemetry on a cluster).
  *
  * Reference parity note: the reference consumes one archive per actor run
  * (/root/reference/src/main.js:27-38) and buffers it whole
  * (etl.js:97-110); this table is the engine's many-archive scan surface
  * feeding the same per-entry kernels (SmartCsv, Lighthouse, AuditEtl).
  */
final class ZipEntrySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-zip"
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipEntrySource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ZipEntryTable(new CaseInsensitiveStringMap(properties))
}

object ZipEntrySource {
  /** `method` is the ZIP spec's numeric compression method (0=stored,
    * 8=deflate) as a string label for readability. */
  val Schema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = false),
    StructField("entry", StringType, nullable = false),
    StructField("nested", BooleanType, nullable = false),
    StructField("method", StringType, nullable = false),
    StructField("compressed", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  def methodName(m: Int): String = m match {
    case 0 => "stored"
    case 8 => "deflate"
    case other => other.toString
  }
}

/** Process-wide scan observability: how many entries were inflated, how
  * many archives opened, and — the scale-critical one — how many bytes
  * were actually TRANSFERRED from storage (`bytesRead`: every positioned
  * read the scan issues). Exact under local[n] (single JVM); on a cluster
  * each executor counts its own work. Used by specs to prove pruning and
  * pushdown skip both decompression AND I/O: a metadata-only scan must
  * read tail + central-directory bytes per archive, never archive bodies. */
object ZipScanMetrics {
  val archivesOpened = new AtomicLong(0)
  val entriesInflated = new AtomicLong(0)
  val bytesInflated = new AtomicLong(0)
  val bytesRead = new AtomicLong(0)
  def reset(): Unit = {
    archivesOpened.set(0); entriesInflated.set(0)
    bytesInflated.set(0); bytesRead.set(0)
  }
}

/** Positioned reads against a Hadoop FileSystem path — `readFully(pos, …)`
  * is a ranged read (a range GET on s3a, a positioned pread on HDFS), so
  * consumers transfer exactly the spans they ask for. Every read lands in
  * [[ZipScanMetrics.bytesRead]] when `metered` (execution-path reads;
  * planning-time statistics probes pass false so the metric stays an
  * exact measure of scan I/O). */
final class HadoopZipSource(path: Path, conf: org.apache.hadoop.conf.Configuration,
                            override val length: Long, metered: Boolean = true)
    extends ZipByteSource {
  private val in = path.getFileSystem(conf).open(path)
  override def readAt(offset: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    in.readFully(offset, buf)
    if (metered) ZipScanMetrics.bytesRead.addAndGet(len.toLong)
    buf
  }
  override def close(): Unit = in.close()
}

final class ZipEntryTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-zip:${Option(options.get("path")).getOrElse("")}"
  override def schema(): StructType = ZipEntrySource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ZipScanBuilder(options)
}

final class ZipScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = ZipEntrySource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept predicates the reader can evaluate on central-directory
    * metadata (before any inflation). Everything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition(ZipFilters.supported)
    pushed = ours
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ZipScan(Option(options.get("path")).getOrElse(
                  throw new IllegalArgumentException("graft-zip: path is required")),
                options.getBoolean("recursive", true),
                Option(options.get("glob")).getOrElse("*.zip"),
                options.getBoolean("nested", false),
                required, pushed,
                options.getInt("statsMaxArchives", 64))
}

/** Pushed-filter evaluation over metadata columns. A filter is accepted
  * only if EVERY referenced column is a metadata column — `content` never
  * qualifies, so accepted filters can always run before inflation. */
private[sources] object ZipFilters {
  private val Meta = Set("archive", "entry", "nested", "method", "compressed", "size")

  def supported(f: Filter): Boolean = f match {
    case _: AlwaysTrue | _: AlwaysFalse => true
    case EqualTo(a, _) => Meta(a)
    case In(a, _) => Meta(a)
    case StringStartsWith(a, _) => Meta(a)
    case StringEndsWith(a, _) => Meta(a)
    case StringContains(a, _) => Meta(a)
    case GreaterThan(a, _) => Meta(a)
    case GreaterThanOrEqual(a, _) => Meta(a)
    case LessThan(a, _) => Meta(a)
    case LessThanOrEqual(a, _) => Meta(a)
    case IsNull(_) => false // metadata columns are non-nullable → never null
    case IsNotNull(a) => Meta(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** Evaluate one filter against a metadata row. */
  def eval(f: Filter, m: ZipScan.Meta): Boolean = {
    def col(a: String): Any = a match {
      case "archive" => m.archive
      case "entry" => m.entry
      case "nested" => m.nested
      case "method" => m.method
      case "compressed" => m.compressed
      case "size" => m.size
      case other => throw new IllegalStateException(s"unexpected pushed column $other")
    }
    def cmp(a: String, v: Any): Int = (col(a), v) match {
      case (x: Long, n: Number) => java.lang.Long.compare(x, n.longValue())
      case (x: String, s: String) => x.compareTo(s)
      case (x: Boolean, b: Boolean) => java.lang.Boolean.compare(x, b)
      case (x, v2) => throw new IllegalStateException(s"incomparable $x vs $v2")
    }
    f match {
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case EqualTo(a, v) => cmp(a, v) == 0
      case In(a, vs) => vs.exists(v => cmp(a, v) == 0)
      case StringStartsWith(a, p) => col(a).asInstanceOf[String].startsWith(p)
      case StringEndsWith(a, p) => col(a).asInstanceOf[String].endsWith(p)
      case StringContains(a, p) => col(a).asInstanceOf[String].contains(p)
      case GreaterThan(a, v) => cmp(a, v) > 0
      case GreaterThanOrEqual(a, v) => cmp(a, v) >= 0
      case LessThan(a, v) => cmp(a, v) < 0
      case LessThanOrEqual(a, v) => cmp(a, v) <= 0
      case IsNotNull(_) => true
      case And(l, r) => eval(l, m) && eval(r, m)
      case Or(l, r) => eval(l, m) || eval(r, m)
      case Not(c) => !eval(c, m)
      case other => throw new IllegalStateException(s"unexpected pushed filter $other")
    }
  }
}

object ZipScan {
  /** Metadata for one candidate row, evaluated before inflation. */
  final case class Meta(archive: String, entry: String, nested: Boolean,
                        method: String, compressed: Long, size: Long)
}

final class ZipScan(path: String, recursive: Boolean, glob: String,
                    nested: Boolean, required: StructType, filters: Array[Filter],
                    statsMaxArchives: Int)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-zip $path, ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${filters.mkString(", ")}]"

  /** The archive listing, computed once per scan (shared by partition
    * planning and statistics). */
  private lazy val archives: Array[ZipArchivePartition] = {
    val spark = SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val globMatcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + glob)
    def matches(st: FileStatus): Boolean =
      globMatcher.matches(java.nio.file.Paths.get(st.getPath.getName))
    val out = ArrayBuffer.empty[ZipArchivePartition]
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isFile) {
      out += ZipArchivePartition(rootStatus.getPath.toString, rootStatus.getLen)
    } else {
      val it = fs.listFiles(root, recursive)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && matches(st)) out += ZipArchivePartition(st.getPath.toString, st.getLen)
      }
    }
    // Deterministic order → deterministic partition ids across runs.
    out.sortBy(_.archive).toArray
  }

  /** One partition per archive — a ZIP's central directory is a single
    * global footer, so an archive is the unit of parallelism; a 100 TB
    * corpus of bounded archives fans out to (num archives) tasks. */
  override def planInputPartitions(): Array[InputPartition] =
    archives.toArray[InputPartition]

  /** Post-pushdown relation statistics, so Spark can SIZE this relation —
    * the broadcast-join decision when a filtered zip scan feeds a join.
    * For ≤ `statsMaxArchives` archives the central directories give EXACT
    * post-pushdown row counts and entry sizes for a few KBs of tail reads
    * each (planning-time, unmetered); beyond that — or on any read
    * failure — the estimate falls back to the conservative Σ of archive
    * file lengths (never under-estimates a content scan, so a huge
    * relation is never wrongly broadcast). Nested inner entries are
    * estimated by their blob rows (enumerating them would cost inflation,
    * which planning must never do). */
  override def estimateStatistics(): Statistics = stats

  private lazy val stats: Statistics = {
    def conservative: Statistics = new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, archives.map(_.length).sum))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
    if (archives.length > statsMaxArchives) conservative
    else try {
      val hconf = SparkSession.active.sessionState.newHadoopConf()
      val needContent = required.fieldNames.contains("content")
      var rows = 0L
      var bytes = 0L
      archives.foreach { p =>
        val src = new HadoopZipSource(new Path(p.archive), hconf, p.length,
          metered = false)
        try ZipCentral.centralDirectory(src).filterNot(_.isDirectory).foreach { e =>
          val m = ZipScan.Meta(p.archive, e.name, nested = false,
            ZipEntrySource.methodName(e.method), e.compressedSize, e.size)
          if (filters.forall(ZipFilters.eval(_, m))) {
            rows += 1
            // Per-row footprint: the metadata columns (~name + 5 fixed
            // fields) plus the inflated payload when `content` survives
            // column pruning.
            bytes += e.name.length + 64L + (if (needContent) e.size else 0L)
          }
        } finally src.close()
      }
      val total = math.max(1L, bytes)
      val n = rows
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(n)
      }
    } catch {
      case _: java.io.IOException | _: java.util.zip.ZipException => conservative
    }
  }

  /** The Hadoop conf, broadcast once per scan as Spark's own file scans
    * do: each task then deserializes a broadcast handle, not a whole
    * `Configuration`. */
  private lazy val hconf: Broadcast[SerializableConfiguration] = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZipReaderFactory(hconf, required.fieldNames, nested, filters)
}

final case class ZipArchivePartition(archive: String, length: Long) extends InputPartition

final case class ZipReaderFactory(hconf: Broadcast[SerializableConfiguration],
                                  columns: Array[String], nested: Boolean,
                                  filters: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZipPartitionReader(partition.asInstanceOf[ZipArchivePartition],
      hconf.value.value, columns, nested, filters)
}

/** Reads one archive: central directory first (tail-only ranged reads),
  * rows lazily.
  *
  * I/O + inflation discipline: an entry's DATA bytes are read and inflated
  * only if (a) the row survives every pushed filter, evaluated on metadata
  * alone, AND (b) the `content` column is in the projection. A
  * metadata-only scan therefore transfers tail + central-directory bytes
  * per archive — ~KBs out of arbitrarily large archives — and a selected
  * entry adds two ranged reads (local header + its compressed span).
  * Inner archives (nested=true rows) are the one exception — enumerating
  * an inner ZIP requires inflating the inner archive blob itself
  * (counted), but its entries then follow the same discipline against the
  * inner central directory, served from the in-memory inner blob. */
final class ZipPartitionReader(part: ZipArchivePartition,
                               hconf: org.apache.hadoop.conf.Configuration,
                               columns: Array[String], nested: Boolean,
                               filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private var srcOpened = false

  private lazy val src: ZipByteSource = {
    ZipScanMetrics.archivesOpened.incrementAndGet()
    val s = new HadoopZipSource(new Path(part.archive), hconf, part.length)
    srcOpened = true
    s
  }

  /** One inflate budget for the archive; an inner archive gets its own. */
  private lazy val budget = new ZipCentral.Budget(part.length)

  /** (metadata, inflate-thunk) pairs; nested archives expand in place. */
  private lazy val rows: Iterator[(ZipScan.Meta, () => Array[Byte])] = {
    val top = ZipCentral.centralDirectory(src)
    top.iterator.filterNot(_.isDirectory).flatMap { e =>
      val isInner = nested && e.name.toLowerCase.endsWith(".zip")
      if (!isInner) {
        Iterator.single((
          ZipScan.Meta(part.archive, e.name, nested = false,
            ZipEntrySource.methodName(e.method), e.compressedSize, e.size),
          () => inflate(src, e, budget)))
      } else {
        // Enumerating an inner archive costs one inflation of the inner
        // blob (unavoidable: its central directory lives inside); corrupt
        // inner ZIPs surface as zero rows rather than failing the scan —
        // the AuditEtl `partial` discipline (etl.js:190-196).
        lazy val blob = inflate(src, e, budget)
        try {
          val innerSrc = new ArrayZipSource(blob)
          val innerBudget = new ZipCentral.Budget(blob.length)
          val inner = ZipCentral.centralDirectory(innerSrc)
          inner.iterator.filterNot(_.isDirectory).map { ie =>
            (ZipScan.Meta(part.archive, s"${e.name}::${ie.name}", nested = true,
              ZipEntrySource.methodName(ie.method), ie.compressedSize, ie.size),
              () => inflate(innerSrc, ie, innerBudget))
          }
        } catch {
          case _: java.util.zip.ZipException =>
            Iterator.single((
              ZipScan.Meta(part.archive, e.name, nested = false,
                ZipEntrySource.methodName(e.method), e.compressedSize, e.size),
              () => blob))
        }
      }
    }.filter { case (m, _) => filters.forall(ZipFilters.eval(_, m)) }
  }

  private def inflate(from: ZipByteSource, e: ZipCentral.Entry,
                      budget: ZipCentral.Budget): Array[Byte] = {
    ZipScanMetrics.entriesInflated.incrementAndGet()
    ZipScanMetrics.bytesInflated.addAndGet(e.size)
    ZipCentral.read(from, e, budget)
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      val (m, load) = rows.next()
      val vals = columns.map {
        case "archive" => UTF8String.fromString(m.archive)
        case "entry" => UTF8String.fromString(m.entry)
        case "nested" => java.lang.Boolean.valueOf(m.nested)
        case "method" => UTF8String.fromString(m.method)
        case "compressed" => java.lang.Long.valueOf(m.compressed)
        case "size" => java.lang.Long.valueOf(m.size)
        case "content" => load()
        case other => throw new IllegalStateException(s"unknown column $other")
      }
      current = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = if (srcOpened) src.close()
}
