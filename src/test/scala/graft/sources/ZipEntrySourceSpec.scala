package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import graft.SparkSpec
import graft.etl.{Fixtures, JdkZip, SmartCsv, Zips}

/** DSv2 graft-zip table: parity with the JDK's streaming reader, plus the two
  * properties that justify a TableProvider at scale — column pruning and
  * filter pushdown must be observable as SKIPPED DECOMPRESSION, not just
  * plan cosmetics. */
class ZipEntrySourceSpec extends SparkSpec {

  private def writeDir(archives: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("zipsrc").toString
    archives.foreach { case (name, bytes) =>
      Files.write(Paths.get(s"$dir/$name"), bytes)
    }
    dir
  }

  private def read(dir: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft-zip")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(dir)
  }

  /** A ZIP with one STORED and one deflated entry plus a UTF-8 name —
    * branches ZipOutputStream's defaults never produce together. */
  private def mixedMethodZip: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    val storedData = "stored,data\n1,2\n".getBytes("UTF-8")
    val e = new ZipEntry("stored_naïve.csv")
    e.setMethod(ZipEntry.STORED)
    e.setSize(storedData.length)
    val crc = new CRC32(); crc.update(storedData)
    e.setCrc(crc.getValue)
    zos.putNextEntry(e); zos.write(storedData); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("deflated.csv"))
    zos.write(("x,y\n" + "3,4\n" * 100).getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  /** A seeded archive: 1-8 entries, each STORED or DEFLATED at a random
    * level, holding random bytes or repetitive CSV text, with a directory
    * entry now and then. */
  private def seededZip(seed: Long): Array[Byte] = {
    val rnd = new java.util.Random(seed)
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    for (i <- 0 until 1 + rnd.nextInt(8)) {
      if (rnd.nextInt(4) == 0) { zos.putNextEntry(new ZipEntry(s"d$i/")); zos.closeEntry() }
      val data =
        if (rnd.nextBoolean()) { val b = new Array[Byte](rnd.nextInt(20000)); rnd.nextBytes(b); b }
        else (0 until rnd.nextInt(2000)).map(k => s"row$k,${k % 7}\n").mkString.getBytes("UTF-8")
      val e = new ZipEntry(s"d$i/e$i.csv")
      if (rnd.nextBoolean()) {
        e.setMethod(ZipEntry.STORED); e.setSize(data.length)
        val crc = new CRC32(); crc.update(data); e.setCrc(crc.getValue)
      } else zos.setLevel(rnd.nextInt(10))
      zos.putNextEntry(e); zos.write(data); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("ZipCentral parity: central-directory enumeration + random-access read equal the streaming reader") {
    val archives = Seq(Fixtures.fullZip, Fixtures.minimalZip, Fixtures.innerSiteAudit,
      mixedMethodZip) ++ (1L to 8L).map(seededZip)
    for (bytes <- archives) {
      val streamed = JdkZip.entries(bytes)
      val kernel = Zips.entries(bytes)
      assert(kernel.keys.toVector == streamed.keys.toVector)
      streamed.foreach { case (n, b) => assert(kernel(n).toSeq == b.toSeq, s"kernel mismatch for $n") }
      val cd = ZipCentral.centralDirectory(bytes).filterNot(_.isDirectory)
      assert(cd.map(_.name) == streamed.keys.toVector)
      cd.foreach { e =>
        assert(ZipCentral.read(bytes, e).toSeq == streamed(e.name).toSeq,
          s"content mismatch for ${e.name}")
        assert(e.size == streamed(e.name).length.toLong)
      }
    }
    // Empty archives and non-ZIPs behave like the streaming reader.
    assert(ZipCentral.centralDirectory(Fixtures.emptyZip).isEmpty)
    intercept[java.util.zip.ZipException] {
      ZipCentral.centralDirectory(Fixtures.notAZip)
    }
  }

  test("scan parity: one row per entry, content matches, stored and deflate both decode") {
    val dir = writeDir("a.zip" -> Fixtures.minimalZip, "m.zip" -> mixedMethodZip)
    val rows = read(dir).collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1)) ->
        (r.getString(3), r.getAs[Array[Byte]]("content").toSeq)).toMap
    val expA = Zips.entries(Fixtures.minimalZip)
    val expM = Zips.entries(mixedMethodZip)
    assert(rows.size == expA.size + expM.size)
    assert(rows(("a.zip", "ahrefs_keywords.csv"))._2 == expA("ahrefs_keywords.csv").toSeq)
    assert(rows(("m.zip", "stored_naïve.csv")) == (("stored", expM("stored_naïve.csv").toSeq)))
    assert(rows(("m.zip", "deflated.csv")) == (("deflate", expM("deflated.csv").toSeq)))
  }

  test("column pruning: a metadata-only query inflates NOTHING") {
    val dir = writeDir("a.zip" -> Fixtures.fullZip, "b.zip" -> Fixtures.minimalZip)
    ZipScanMetrics.reset()
    val manifest = read(dir).selectExpr("entry", "size", "compressed").collect()
    assert(manifest.length ==
      Zips.entries(Fixtures.fullZip).size + Zips.entries(Fixtures.minimalZip).size)
    assert(ZipScanMetrics.entriesInflated.get() == 0L,
      "metadata scan must not decompress any entry")
    assert(ZipScanMetrics.archivesOpened.get() == 2L)
  }

  test("filter pushdown: an entry predicate gates decompression to matching entries only") {
    val dir = writeDir("a.zip" -> Fixtures.fullZip, "b.zip" -> Fixtures.minimalZip)
    ZipScanMetrics.reset()
    val df = read(dir).filter("entry = 'ahrefs_keywords.csv'").select("archive", "content")
    val got = df.collect()
    assert(got.length == 2) // present in both archives
    assert(ZipScanMetrics.entriesInflated.get() == 2L,
      "only the two matching entries may be inflated")
    // The predicate is pushed into the scan, not applied post-scan.
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("graft-zip"), scanDesc)

    ZipScanMetrics.reset()
    assert(read(dir).filter("entry LIKE '%.json' AND size > 0").select("content")
      .collect().length == 2) // two lighthouse JSONs in fullZip
    assert(ZipScanMetrics.entriesInflated.get() == 2L)
  }

  test("nested=true expands inner archives; corrupt inner ZIPs stay as blob rows") {
    val dir = writeDir("full.zip" -> Fixtures.fullZip,
                       "partial.zip" -> Fixtures.nestedPartialZip)
    val rows = read(dir, Map("nested" -> "true"))
      .selectExpr("archive", "entry", "nested").collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1), r.getBoolean(2)))
    val innerNames = Zips.entries(Zips.entries(Fixtures.fullZip)("ahrefs_site_audit.zip")).keys
    assert(innerNames.nonEmpty)
    innerNames.foreach { n =>
      assert(rows.contains(("full.zip", s"ahrefs_site_audit.zip::$n", true)))
    }
    // The expanded inner archive's blob row is replaced by its entries...
    assert(!rows.exists(r => r._1 == "full.zip" && r._2 == "ahrefs_site_audit.zip"))
    // ...but a corrupt inner ZIP keeps its blob row (AuditEtl `partial` discipline).
    assert(rows.contains(("partial.zip", "ahrefs_site_audit.zip", false)))
    // Inner entry CONTENT round-trips through the nested read path.
    val innerContent = read(dir, Map("nested" -> "true"))
      .filter("entry LIKE 'ahrefs_site_audit.zip::%'")
      .collect().map(r => r.getString(1).split("::", 2)(1) -> r.getAs[Array[Byte]]("content").toSeq)
      .toMap
    val expInner = Zips.entries(Zips.entries(Fixtures.fullZip)("ahrefs_site_audit.zip"))
    expInner.foreach { case (n, b) => assert(innerContent(n) == b.toSeq) }
  }

  test("listing: glob excludes non-archives, recursive descends, single-file load works") {
    val dir = writeDir("a.zip" -> Fixtures.minimalZip)
    Files.write(Paths.get(s"$dir/readme.txt"), "not an archive".getBytes)
    Files.createDirectories(Paths.get(s"$dir/sub"))
    Files.write(Paths.get(s"$dir/sub/b.zip"), Fixtures.minimalZip)
    assert(read(dir).select("archive").distinct().count() == 2)
    assert(read(dir, Map("recursive" -> "false")).select("archive").distinct().count() == 1)
    assert(read(s"$dir/a.zip").count() == Zips.entries(Fixtures.minimalZip).size.toLong)
  }

  test("corrupt stored entry (size != compressed size) fails loudly, never zero-pads") {
    val bytes = mixedMethodZip
    val stored = ZipCentral.centralDirectory(bytes).find(_.method == 0).get
    val corrupt = stored.copy(size = stored.size + 4)
    val ex = intercept[java.util.zip.ZipException] { ZipCentral.read(bytes, corrupt) }
    assert(ex.getMessage.contains("corrupt record"))
    // The honest record still reads.
    assert(ZipCentral.read(bytes, stored).nonEmpty)
  }

  test("a single ENTRY past the 2 GiB buffer limit fails with the real reason, before any data read") {
    // Archives of any size are readable (positioned reads + ZIP64); the
    // retained bound is per entry — its bytes must fit one JVM array. The
    // guard fires on the central-directory sizes alone, before the local
    // header or data span is ever read.
    val bytes = mixedMethodZip
    val e = ZipCentral.centralDirectory(bytes).head
    val huge = e.copy(size = 3L << 30, compressedSize = 3L << 30)
    val ex = intercept[java.util.zip.ZipException] { ZipCentral.read(bytes, huge) }
    assert(ex.getMessage.contains("2 GiB"))
  }

  /** A ZIP with a `big`-byte stored entry (all zeros, written sparse) plus
    * a small stored entry PAST it, with ZIP64 central-directory plumbing
    * throughout (0x0001 extra fields, ZIP64 EOCD record + locator) — the
    * shape of a >4 GiB archive, built in milliseconds because the big
    * entry's data span is a filesystem hole. */
  private def writeZip64Archive(path: java.nio.file.Path, big: Long): Unit = {
    import java.nio.{ByteBuffer, ByteOrder}
    def buf(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      val name1 = "huge.bin"; val name2 = "tail.txt"
      val data2 = "hello zip64".getBytes("UTF-8")
      val crc2 = { val c = new CRC32(); c.update(data2); c.getValue }
      // Local header 1 at 0: ZIP64 sentinels + extra (as a real writer does).
      val lh1 = buf(30 + name1.length + 20)
      lh1.putInt(0x04034b50).putShort(45).putShort(0).putShort(0) // sig, version 4.5, flags, stored
        .putShort(0).putShort(0).putInt(0)                        // time, date, crc (zeros: unchecked)
        .putInt(-1).putInt(-1)                                    // csize/usize = 0xffffffff
        .putShort(name1.length.toShort).putShort(20)              // name len, extra len
      lh1.put(name1.getBytes("UTF-8"))
      lh1.putShort(1).putShort(16).putLong(big).putLong(big)      // 0x0001: usize, csize
      raf.seek(0); raf.write(lh1.array())
      val data1Start = 30L + name1.length + 20
      // The big entry's data is a hole [data1Start, data1Start + big).
      val off2 = data1Start + big
      val lh2 = buf(30 + name2.length)
      lh2.putInt(0x04034b50).putShort(20).putShort(0).putShort(0)
        .putShort(0).putShort(0).putInt(crc2.toInt)
        .putInt(data2.length).putInt(data2.length)
        .putShort(name2.length.toShort).putShort(0)
      lh2.put(name2.getBytes("UTF-8"))
      raf.seek(off2); raf.write(lh2.array()); raf.write(data2)
      val cdOff = off2 + 30 + name2.length + data2.length
      // CD record 1: sizes saturated -> 0x0001 extra (usize, csize); offset 0 fits.
      val cd1 = buf(46 + name1.length + 20)
      cd1.putInt(0x02014b50).putShort(45).putShort(45).putShort(0).putShort(0)
        .putShort(0).putShort(0).putInt(0)
        .putInt(-1).putInt(-1)                                    // csize/usize saturated
        .putShort(name1.length.toShort).putShort(20).putShort(0)  // name/extra/comment len
        .putShort(0).putShort(0).putInt(0).putInt(0)              // disk, int attrs, ext attrs, offset=0
      cd1.put(name1.getBytes("UTF-8"))
      cd1.putShort(1).putShort(16).putLong(big).putLong(big)
      // CD record 2: small sizes, but its OFFSET is past 4 GiB -> saturated offset in extra.
      val cd2 = buf(46 + name2.length + 12)
      cd2.putInt(0x02014b50).putShort(45).putShort(45).putShort(0).putShort(0)
        .putShort(0).putShort(0).putInt(crc2.toInt)
        .putInt(data2.length).putInt(data2.length)
        .putShort(name2.length.toShort).putShort(12).putShort(0)
        .putShort(0).putShort(0).putInt(0).putInt(-1)             // offset = 0xffffffff
      cd2.put(name2.getBytes("UTF-8"))
      cd2.putShort(1).putShort(8).putLong(off2)                   // 0x0001: offset
      raf.seek(cdOff); raf.write(cd1.array()); raf.write(cd2.array())
      val cdSize = cd1.capacity().toLong + cd2.capacity()
      val z64Off = cdOff + cdSize
      val z64 = buf(56)
      z64.putInt(0x06064b50).putLong(44)                          // sig, record size
        .putShort(45).putShort(45).putInt(0).putInt(0)            // versions, disks
        .putLong(2).putLong(2).putLong(cdSize).putLong(cdOff)     // entries ×2, cd size, cd offset
      val loc = buf(20)
      loc.putInt(0x07064b50).putInt(0).putLong(z64Off).putInt(1)
      val eocd = buf(22)
      eocd.putInt(0x06054b50).putShort(0).putShort(0)
        .putShort(2).putShort(2).putInt(cdSize.toInt).putInt(-1)  // cd offset saturated
        .putShort(0)
      raf.seek(z64Off); raf.write(z64.array()); raf.write(loc.array()); raf.write(eocd.array())
    } finally raf.close()
  }

  test("ZIP64: a sparse >4 GiB archive lists via tail reads and inflates the entry past the 4 GiB offset") {
    val dir = Files.createTempDirectory("zip64").toString
    val big = 4400000000L // past every 32-bit field
    writeZip64Archive(Paths.get(s"$dir/huge.zip"), big)
    assert(Files.size(Paths.get(s"$dir/huge.zip")) > 4294967295L)
    ZipScanMetrics.reset()
    val manifest = read(dir).selectExpr("entry", "size", "method").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(manifest("huge.bin") == ((big, "stored")))
    assert(manifest("tail.txt") == ((11L, "stored")))
    // The metadata scan of a 4.4 GB archive transferred only tail + CD.
    assert(ZipScanMetrics.bytesRead.get() <= ZipCentral.MaxTailBytes + 4096L,
      s"metadata scan read ${ZipScanMetrics.bytesRead.get()} bytes of a ${big} byte archive")
    // The small entry AT AN OFFSET PAST 4 GiB round-trips (ZIP64 offset
    // extra field + two ranged reads); the hole never transfers.
    val content = read(dir).filter("entry = 'tail.txt'").select("content")
      .collect().head.getAs[Array[Byte]](0)
    assert(new String(content, "UTF-8") == "hello zip64")
    // The >2 GiB ENTRY is listable but rejected at inflate with the real reason.
    val ex = intercept[org.apache.spark.SparkException] {
      read(dir).filter("entry = 'huge.bin'").select("content").collect()
    }
    assert(ex.getMessage.contains("2 GiB") ||
      Option(ex.getCause).exists(_.getMessage.contains("2 GiB")))
    deleteDir(dir)
  }

  /** A minimal one-entry archive whose CENTRAL record saturates its sizes
    * (0xffffffff) and carries a 0x0001 extra field with a LYING size word —
    * the corrupt-ZIP64 shapes the parser must reject cleanly (a clean
    * ZipException, never an out-of-bounds read of the directory buffer). */
  private def corruptZip64Extra(extraSz: Short): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def buf(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val name = "a.txt"; val data = "x".getBytes("UTF-8")
    val crc = { val c = new CRC32(); c.update(data); c.getValue }
    val lh = buf(30 + name.length)
    lh.putInt(0x04034b50).putShort(20).putShort(0).putShort(0)
      .putShort(0).putShort(0).putInt(crc.toInt)
      .putInt(data.length).putInt(data.length)
      .putShort(name.length.toShort).putShort(0)
    lh.put(name.getBytes("UTF-8"))
    val cdOff = 30 + name.length + data.length
    // Extra area: the 4-byte (id, sz) header + ONE u64 (8 bytes) = 12, but
    // `sz` claims `extraSz` — too short for the two saturated sentinels, or
    // far past the extra area's end.
    val cd = buf(46 + name.length + 12)
    cd.putInt(0x02014b50).putShort(45).putShort(45).putShort(0).putShort(0)
      .putShort(0).putShort(0).putInt(crc.toInt)
      .putInt(-1).putInt(-1)                                   // csize/usize saturated
      .putShort(name.length.toShort).putShort(12).putShort(0)  // name/extra/comment len
      .putShort(0).putShort(0).putInt(0).putInt(0)             // disk, attrs, offset 0
    cd.put(name.getBytes("UTF-8"))
    cd.putShort(1).putShort(extraSz).putLong(1L)               // 0x0001 with a lying sz
    val cdSize = cd.capacity()
    val eocd = buf(22)
    eocd.putInt(0x06054b50).putShort(0).putShort(0)
      .putShort(1).putShort(1).putInt(cdSize).putInt(cdOff).putShort(0)
    val out = buf(cdOff + cdSize + 22)
    out.put(lh.array()).put(data).put(cd.array()).put(eocd.array())
    out.array()
  }

  test("corrupt ZIP64 extra fields fail with a clean ZipException, not an out-of-bounds read") {
    // sz = 8: one u64 where the two saturated sentinels need 16 bytes.
    val tooShort = intercept[java.util.zip.ZipException] {
      ZipCentral.centralDirectory(corruptZip64Extra(8))
    }
    assert(tooShort.getMessage.contains("too short"))
    // sz = 100: the declared body overruns the 12-byte extra area (and,
    // this record being last, the directory buffer itself — unvalidated
    // u64 reads here were an ArrayIndexOutOfBoundsException).
    val overrun = intercept[java.util.zip.ZipException] {
      ZipCentral.centralDirectory(corruptZip64Extra(100))
    }
    assert(overrun.getMessage.contains("overruns"))
  }

  test("metadata-only scans transfer tail + central directory, not archive bodies") {
    // An archive dominated by a stored 300 KB entry: the whole-archive
    // read this spec guards against would move ~300 KB; the tail-read
    // discipline moves <= magic + tail span + CD.
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    val blob = new Array[Byte](300 * 1024)
    new java.util.Random(7).nextBytes(blob)
    val e = new ZipEntry("blob.bin")
    e.setMethod(ZipEntry.STORED); e.setSize(blob.length)
    val crc = new CRC32(); crc.update(blob); e.setCrc(crc.getValue)
    zos.putNextEntry(e); zos.write(blob); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("manifest.csv"))
    zos.write("a,b\n1,2\n".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val archive = bos.toByteArray
    assert(archive.length > ZipCentral.MaxTailBytes)
    val dir = writeDir("big.zip" -> archive)

    ZipScanMetrics.reset()
    val rows = read(dir).selectExpr("entry", "size", "compressed").collect()
    assert(rows.length == 2)
    val metaBytes = ZipScanMetrics.bytesRead.get()
    assert(metaBytes <= 2 + ZipCentral.MaxTailBytes + 1024L,
      s"metadata scan read $metaBytes bytes — more than tail + CD")
    assert(metaBytes < archive.length / 2,
      s"metadata scan read $metaBytes of ${archive.length} — body transferred?")

    // Selecting ONE small entry's content adds only its header + data spans.
    ZipScanMetrics.reset()
    read(dir).filter("entry = 'manifest.csv'").select("content").collect()
    val oneBytes = ZipScanMetrics.bytesRead.get()
    assert(oneBytes <= 2 + ZipCentral.MaxTailBytes + 1024L + 30 + 64,
      s"one-entry read transferred $oneBytes bytes — the 300 KB body leaked in")
    deleteDir(dir)
  }

  test("reported statistics: exact post-pushdown CD stats justify a broadcast the conservative fallback cannot") {
    // One archive whose BULK is an 11 MB stored blob (past the 10 MB
    // autoBroadcastJoinThreshold) plus the small entry a filter selects.
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    val blob = new Array[Byte](11 * 1024 * 1024)
    new java.util.Random(11).nextBytes(blob)
    val e = new ZipEntry("payload.bin")
    e.setMethod(ZipEntry.STORED); e.setSize(blob.length)
    val crc = new CRC32(); crc.update(blob); e.setCrc(crc.getValue)
    zos.putNextEntry(e); zos.write(blob); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("manifest.csv"))
    zos.write("a,b\n1,2\n".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val dir = writeDir("big.zip" -> bos.toByteArray)
    // Large probe side too (5M longs ≫ threshold), so a BroadcastHashJoin
    // can only come from the ZIP side's reported statistics. The key must
    // be NON-foldable (a literal would constant-fold the equi-condition
    // away and degenerate the join to a nested-loop cross).
    import org.apache.spark.sql.functions.{when => sqlWhen, col => sqlCol, lit => sqlLit}
    val big = spark.range(0, 5000000L)
      .withColumn("entry", sqlWhen(sqlCol("id") >= 0, sqlLit("manifest.csv")))
    def planOf(opts: Map[String, String]): String = {
      val zip = read(dir, opts).filter("entry = 'manifest.csv'")
        .select("entry", "archive", "size")
      // sparkPlan = the pre-AQE physical plan: join strategy here is chosen
      // from LOGICAL stats, i.e. from estimateStatistics, not runtime sizes.
      big.join(zip, Seq("entry")).queryExecution.sparkPlan.toString
    }
    // Exact central-directory stats: the filtered relation is one ~100 byte
    // row — broadcastable, and the planner knows it.
    val withStats = planOf(Map.empty)
    assert(withStats.contains("BroadcastHashJoin"), withStats)
    // statsMaxArchives=0 forces the conservative Σ-file-length estimate
    // (11 MB): past the threshold, so the planner must NOT broadcast.
    val conservative = planOf(Map("statsMaxArchives" -> "0"))
    assert(conservative.contains("SortMergeJoin"), conservative)
    deleteDir(dir)
  }

  /** Recursive temp-dir cleanup for the tests that write MB-scale inputs. */
  private def deleteDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(Paths.get(dir))) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }

  test("S5 scale path: SmartCsv over graft-zip content equals the driver-side parse") {
    val dir = writeDir("a.zip" -> Fixtures.fullZip, "b.zip" -> Fixtures.minimalZip)
    import spark.implicits._
    // The distributed shape: pushdown selects the one CSV of interest per
    // archive; SmartCsv (UTF-16LE sniff included) runs in executors.
    val parsed = read(dir).filter("entry = 'ahrefs_keywords.csv'")
      .select("archive", "content")
      .as[(String, Array[Byte])]
      .map { case (archive, bytes) => archive -> SmartCsv.parse(bytes).length }
      .collect().toMap
    val exp = SmartCsv.parse(Zips.entries(Fixtures.fullZip)("ahrefs_keywords.csv")).length
    assert(parsed.values.toSeq == Seq(exp, exp))
  }
}
