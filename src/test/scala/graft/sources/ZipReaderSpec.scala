package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipException, ZipOutputStream}

import graft.SparkSpec
import graft.etl.{AuditEtl, AuditPipeline, Fixtures, JdkZip, Zips}

/** The audit kernel (`Zips.entries`) and the `graft-zip` source read through
  * one reader, [[ZipCentral]]. Archives the JDK's streaming reader mishandles
  * read like AdmZip reads them, and every corrupt entry fails on both paths:
  * `ok=false` for an archive, `partial` for the nested site-audit zip, a
  * failed read for the DSv2 scan. */
class ZipReaderSpec extends SparkSpec {

  private def le(b: ByteArrayOutputStream, v: Long, n: Int): Unit =
    for (i <- 0 until n) b.write(((v >>> (8 * i)) & 0xff).toInt)

  /** An archive laid out as a writer on an unseekable stream lays it out
    * (Python's `zipfile` does): every local header sets flag bit 3 and
    * leaves CRC and sizes zero, and a data descriptor follows the data.
    * Names may repeat. */
  private def streamedZip(deflate: Boolean, entries: (String, Array[Byte])*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val cd = new ByteArrayOutputStream()
    val method = if (deflate) 8 else 0
    entries.foreach { case (name, data) =>
      val nameBytes = name.getBytes("UTF-8")
      val crc = { val c = new CRC32; c.update(data); c.getValue }
      val body =
        if (!deflate) data
        else {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data); d.finish()
          val buf = new ByteArrayOutputStream()
          val chunk = new Array[Byte](4096)
          while (!d.finished()) buf.write(chunk, 0, d.deflate(chunk))
          d.end()
          buf.toByteArray
        }
      val offset = out.size()
      le(out, 0x04034b50L, 4); le(out, 20, 2); le(out, 8, 2); le(out, method, 2)
      le(out, 0, 4); le(out, 0, 4); le(out, 0, 4); le(out, 0, 4) // time+date, crc, sizes
      le(out, nameBytes.length, 2); le(out, 0, 2); out.write(nameBytes)
      out.write(body)
      le(out, 0x08074b50L, 4); le(out, crc, 4); le(out, body.length, 4); le(out, data.length, 4)
      le(cd, 0x02014b50L, 4); le(cd, 20, 2); le(cd, 20, 2); le(cd, 8, 2); le(cd, method, 2)
      le(cd, 0, 4); le(cd, crc, 4); le(cd, body.length, 4); le(cd, data.length, 4)
      le(cd, nameBytes.length, 2); le(cd, 0, 2); le(cd, 0, 2) // name, extra, comment
      le(cd, 0, 2); le(cd, 0, 2); le(cd, 0, 4); le(cd, offset, 4) // disk, attrs, offset
      cd.write(nameBytes)
    }
    val cdOffset = out.size()
    out.write(cd.toByteArray)
    le(out, 0x06054b50L, 4); le(out, 0, 4)
    le(out, entries.length, 2); le(out, entries.length, 2)
    le(out, cd.size(), 4); le(out, cdOffset, 4); le(out, 0, 2)
    out.toByteArray
  }

  /** DEFLATED entries at level 0: the deflate stream holds the data
    * verbatim in stored blocks, so a flipped data byte still inflates and
    * only the CRC-32 can catch it. */
  private def level0Zip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.setLevel(0)
    entries.foreach { case (n, d) => zos.putNextEntry(new ZipEntry(n)); zos.write(d); zos.closeEntry() }
    zos.close()
    bos.toByteArray
  }

  private def u16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Int = u16(b, i) | (u16(b, i + 2) << 16)

  /** Offset of the central directory, from the EOCD record. */
  private def cdOffset(bytes: Array[Byte]): Int =
    u32(bytes, (bytes.length - 22 to 0 by -1).find(i => u32(bytes, i) == 0x06054b50).get + 16)

  /** Offset of `name`'s central-directory record. */
  private def cdRecord(bytes: Array[Byte], name: String): Int = {
    var p = cdOffset(bytes)
    while (new String(bytes, p + 46, u16(bytes, p + 28), "UTF-8") != name)
      p += 46 + u16(bytes, p + 28) + u16(bytes, p + 30) + u16(bytes, p + 32)
    p
  }

  /** A copy of `bytes` with `name`'s central record declaring `size` as
    * its uncompressed size (`field` 24) or its compressed size (20). */
  private def withDeclaredSize(bytes: Array[Byte], name: String, size: Long,
                               field: Int = 24): Array[Byte] = {
    val b = bytes.clone()
    val at = cdRecord(b, name) + field
    for (i <- 0 until 4) b(at + i) = ((size >>> (8 * i)) & 0xff).toByte
    b
  }

  /** A copy of `bytes` with the middle byte of `name`'s data inverted. */
  private def withFlippedByte(bytes: Array[Byte], name: String): Array[Byte] = {
    val b = bytes.clone()
    val e = ZipCentral.centralDirectory(b).find(_.name == name).get
    val lh = e.localHeaderOffset.toInt
    val at = lh + 30 + u16(b, lh + 26) + u16(b, lh + 28) + (e.compressedSize / 2).toInt
    b(at) = (~b(at)).toByte
    b
  }

  private def process(bytes: Array[Byte]): AuditPipeline.AuditRow =
    AuditPipeline.process(AuditPipeline.AuditJob("a.zip", "c", "d", "r", bytes))

  private def documents(bytes: Array[Byte]): Seq[String] = {
    val r = AuditEtl.processZip(bytes, "acme", "example.com", "2026-08-12")
    Seq(r.normalized.toJson, r.scores.toJson, r.manifest.toJson)
  }

  private def writeDir(archive: Array[Byte]): String = {
    val dir = Files.createTempDirectory("zipreader").toString
    Files.write(Paths.get(s"$dir/a.zip"), archive)
    dir
  }

  private def contents(dir: String): Map[String, Seq[Byte]] =
    spark.read.format("graft-zip").load(dir)
      .select("entry", "content").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  /** Every message in the cause chain of a failed DSv2 read of `entry`. */
  private def failedRead(dir: String, entry: String, nested: Boolean = false): String = {
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-zip").option("nested", nested.toString).load(dir)
        .filter(s"entry = '$entry'").select("content").collect()
    }
    Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  test("a STORED + data-descriptor archive gives the documents of a DEFLATED copy") {
    val entries = JdkZip.entries(Fixtures.fullZip).toSeq
    val stored = streamedZip(deflate = false, entries: _*)
    val deflated = streamedZip(deflate = true, entries: _*)
    // The JDK's streaming reader cannot size a stored entry from a
    // descriptor; the central directory sizes it.
    val jdk = intercept[ZipException] { JdkZip.entries(stored) }
    assert(jdk.getMessage.contains("EXT descriptor"), jdk.getMessage)
    assert(documents(stored) == documents(deflated))
    assert(documents(stored) == documents(Fixtures.fullZip))
    val expected = entries.map { case (n, b) => n -> b.toSeq }.toMap
    val dir = writeDir(stored)
    assert(contents(dir) == expected)
  }

  test("duplicate entry names keep the first position and the last bytes") {
    val bytes = streamedZip(deflate = true,
      "a.csv" -> "x\n1\n".getBytes("UTF-8"), "b.csv" -> "y\n2\n".getBytes("UTF-8"),
      "a.csv" -> "x\n3\n".getBytes("UTF-8"))
    val got = Zips.entries(bytes)
    assert(got.keys.toSeq == Seq("a.csv", "b.csv"))
    assert(new String(got("a.csv"), "UTF-8") == "x\n3\n")
    // The rule the kernel had with the streaming reader.
    val jdk = JdkZip.entries(bytes)
    assert(jdk.keys.toSeq == got.keys.toSeq)
    assert(jdk.values.map(_.toSeq).toSeq == got.values.map(_.toSeq).toSeq)
  }

  test("an archive cut inside its central directory fails the archive") {
    val full = Fixtures.fullZip
    val cut = full.take(cdOffset(full) + 20)
    // The streaming reader reads every entry from the local headers alone.
    assert(JdkZip.entries(cut).size == JdkZip.entries(full).size)
    val row = process(cut)
    assert(!row.ok)
    assert(row.error.startsWith("java.util.zip.ZipException"), row.error)
  }

  test("a flipped data byte fails with a CRC ZipException on both paths") {
    for (stored <- Seq(true, false)) {
      val zip: Seq[(String, Array[Byte])] => Array[Byte] =
        if (stored) es => streamedZip(deflate = false, es: _*) else es => level0Zip(es: _*)
      val outer = withFlippedByte(
        zip(Seq("ahrefs_keywords.csv" -> Fixtures.ahrefsKeywords)), "ahrefs_keywords.csv")
      if (!stored) // the streaming reader cannot read the stored form at all
        assert(intercept[ZipException] { JdkZip.entries(outer) }.getMessage.contains("CRC"))
      val row = process(outer)
      assert(!row.ok)
      assert(row.error.startsWith("java.util.zip.ZipException") && row.error.contains("CRC"),
        row.error)

      val inner = withFlippedByte(
        zip(JdkZip.entries(Fixtures.innerSiteAudit).toSeq), "Error-4XX_page.csv")
      val nested = process(Fixtures.zip(
        "ahrefs_keywords.csv" -> Fixtures.ahrefsKeywords, "ahrefs_site_audit.zip" -> inner))
      assert(nested.ok)
      assert(nested.manifestJson.contains("\"ahrefs_site_audit.zip\":{\"status\":\"partial\""))
      assert(nested.manifestJson.contains("invalid entry CRC"), nested.manifestJson)

      val dir = writeDir(outer)
      assert(failedRead(dir, "ahrefs_keywords.csv").contains("invalid entry CRC"))
      val nestedDir = writeDir(Fixtures.zip("ahrefs_site_audit.zip" -> inner))
      assert(failedRead(nestedDir, "ahrefs_site_audit.zip::Error-4XX_page.csv", nested = true)
        .contains("invalid entry CRC"))
    }
  }

  test("an understated central size fails rather than truncating") {
    val name = "ahrefs_keywords.csv"
    val bytes = withDeclaredSize(Fixtures.minimalZip, name, 10)
    assert(Fixtures.ahrefsKeywords.length > 10)
    val row = process(bytes)
    assert(!row.ok)
    assert(row.error.contains("inflates past its declared 10 bytes"), row.error)
    assert(failedRead(writeDir(bytes), name).contains("inflates past its declared 10 bytes"))
  }

  test("a compressed size past the end of the deflate stream fails") {
    val name = "ahrefs_keywords.csv"
    val e = ZipCentral.centralDirectory(Fixtures.minimalZip).find(_.name == name).get
    // The span still ends inside the archive: it runs into the descriptor.
    val bytes = withDeclaredSize(Fixtures.minimalZip, name, e.compressedSize + 4, field = 20)
    val row = process(bytes)
    assert(!row.ok)
    assert(row.error.contains("ends 4 bytes before its declared"), row.error)
    assert(failedRead(writeDir(bytes), name).contains("ends 4 bytes before its declared"))
  }

  test("a few-KB archive declaring a 1.5 GiB entry fails on the budget before allocating") {
    val name = "ahrefs_keywords.csv"
    val bytes = withDeclaredSize(Fixtures.minimalZip, name, 3L << 29)
    assert(bytes.length < 4096)
    // Charged after allocating, the entry would allocate 1.5 GiB, then
    // fail as a short inflate, or with an OutOfMemoryError on a smaller heap.
    val heap = s"test JVM heap ${Runtime.getRuntime.maxMemory >> 20} MiB"
    val row = process(bytes)
    assert(!row.ok)
    assert(row.error.startsWith("java.util.zip.ZipException") &&
      row.error.contains(s"inflates the ${bytes.length}-byte archive past its") &&
      row.error.contains("limit"), s"${row.error} ($heap)")
    assert(failedRead(writeDir(bytes), name).contains("limit"), heap)
  }
}
