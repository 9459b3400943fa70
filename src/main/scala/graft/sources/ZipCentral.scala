package graft.sources

import java.util.zip.{CRC32, DataFormatException, Inflater, ZipException}

/** Positioned byte source for random-access ZIP reading: the abstraction
  * that lets [[ZipCentral]] read archive TAILS (EOCD + central directory)
  * and per-entry spans without ever transferring the whole archive. On
  * Hadoop filesystems a positioned `readFully` is a ranged read (an HTTP
  * range GET on s3a), so a metadata-only scan of a 100 TB corpus moves
  * ~KBs per archive, not the corpus. */
trait ZipByteSource extends java.io.Closeable {
  def length: Long
  /** Read exactly `len` bytes at `offset`; throws on short reads. */
  def readAt(offset: Long, len: Int): Array[Byte]
}

/** In-memory source — inner (nested) archives, whose bytes necessarily
  * exist in memory already, and the array-based test/parity paths. */
final class ArrayZipSource(bytes: Array[Byte]) extends ZipByteSource {
  override def length: Long = bytes.length.toLong
  override def readAt(offset: Long, len: Int): Array[Byte] = {
    if (offset < 0 || len < 0 || offset + len > bytes.length)
      throw new ZipException(
        s"read [$offset, ${offset + len}) outside archive of ${bytes.length} bytes")
    java.util.Arrays.copyOfRange(bytes, offset.toInt, offset.toInt + len)
  }
  override def close(): Unit = ()
}

/** Random-access ZIP reading via the central directory (PKWARE APPNOTE.TXT,
  * the public ZIP format spec) — the engine's one ZIP reader. Like AdmZip,
  * the reference's reader, it indexes entries from the central directory.
  *
  * Two callers: the audit kernel (`etl.Zips.entries`, over an
  * [[ArrayZipSource]]) inflates every entry; the DSv2 scan path
  * (`ZipEntrySource`) lists entry metadata WITHOUT reading or inflating
  * entry data (column-pruned scans) and inflates ONLY the entries a
  * pushed-down predicate selects. The central directory at the archive
  * tail carries name/sizes/method/offset for every entry, so against a
  * [[ZipByteSource]] a metadata-only scan reads tail + CD bytes only, and a
  * one-entry lookup adds two ranged reads (local header, data span) for
  * exactly that entry.
  *
  * ZIP64 (APPNOTE §4.3.14/4.5.3) is fully read: the ZIP64 EOCD locator +
  * record replace saturated EOCD fields, and the 0x0001 extra field
  * replaces saturated per-entry sizes/offsets — so >4 GiB archives and
  * >65535-entry directories list. Inflating is bounded per entry (its
  * bytes must fit a JVM array) and per archive (a [[Budget]]), and every
  * inflated entry is checked against its central record: exact size and
  * CRC-32.
  */
object ZipCentral {

  /** One central-directory row. `method`: 0=stored, 8=deflate. */
  final case class Entry(name: String, method: Int, compressedSize: Long,
                         size: Long, localHeaderOffset: Long, crc32: Long) {
    def isDirectory: Boolean = name.endsWith("/")
  }

  private val EocdSig = 0x06054b50L
  private val Eocd64LocatorSig = 0x07064b50L
  private val Eocd64Sig = 0x06064b50L
  private val CdSig = 0x02014b50L
  private val LocalSig = 0x04034b50L

  /** A single entry's bytes must fit one JVM array. */
  private val MaxEntryBytes: Long = Int.MaxValue.toLong - 8

  /** `zipBuf[0] === 0x50 && zipBuf[1] === 0x4B` (the reference's etl.js:102). */
  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 0x50.toByte && bytes(1) == 0x4B.toByte

  /** Zip-bomb guards: all entries of one archive together inflate to at
    * most `MaxInflatedBytes`, and to at most `MaxRatio` times the
    * archive's own size once past `RatioFloorBytes`. */
  val MaxInflatedBytes: Long = 512L << 20
  val MaxRatio: Long = 100
  val RatioFloorBytes: Long = 16L << 20

  /** What one archive may still inflate to. A reader keeps one per
    * archive; a nested archive gets its own, from its own length. */
  final class Budget(archiveBytes: Long) {
    val limit: Long =
      math.min(MaxInflatedBytes, math.max(RatioFloorBytes, MaxRatio * archiveBytes))
    private var left = limit

    /** Charges `e`'s declared size; [[read]] calls it before it allocates. */
    def charge(e: Entry): Unit = {
      if (e.size > left)
        throw new ZipException(s"entry ${e.name} inflates the $archiveBytes-byte " +
          s"archive past its $limit-byte limit")
      left -= e.size
    }
  }

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def u64(b: Array[Byte], i: Int): Long =
    u32(b, i) | (u32(b, i + 4) << 32)

  /** The EOCD span a tail read must cover: fixed 22 bytes + max comment
    * (65535) + the ZIP64 EOCD locator (20) that precedes the EOCD. */
  val MaxTailBytes: Int = 22 + 65535 + 20

  /** Entries in central-directory order (== local-header order for
    * archives written front-to-back, which is every writer in practice).
    * Reads: one tail span, the CD span — nothing else (the magic is
    * validated from the tail read when the tail covers offset 0; larger
    * archives are validated by the EOCD/CD signatures alone, which
    * already reject non-ZIP bytes — no extra body-offset round trip,
    * which on s3a would be one more HTTP request per archive per scan). */
  def centralDirectory(src: ZipByteSource): Vector[Entry] = {
    // EOCD: scan the tail span backwards for the signature.
    val tailLen = math.min(src.length, MaxTailBytes.toLong).toInt
    val tailStart = src.length - tailLen
    val tail = src.readAt(tailStart, tailLen)
    if (tailStart == 0L && !isZip(tail))
      throw new ZipException("not a zip archive (bad magic)")
    var eocd = -1
    var i = tailLen - 22
    while (i >= 0 && eocd < 0) {
      if (u32(tail, i) == EocdSig) eocd = i
      i -= 1
    }
    if (eocd < 0) throw new ZipException("no end-of-central-directory record")

    // Multi-part (split/spanned) archives are not supported: this reader
    // has exactly one byte source, so an entry on another disk could only
    // fail later with an opaque LocalSig error — reject up front with the
    // real reason. 0xffff defers the check to the ZIP64 record's fields.
    val eocdDisk = u16(tail, eocd + 4)
    val eocdCdDisk = u16(tail, eocd + 6)
    if ((eocdDisk != 0 && eocdDisk != 0xffff) ||
        (eocdCdDisk != 0 && eocdCdDisk != 0xffff))
      throw new ZipException(
        s"split archives unsupported (EOCD disk $eocdDisk, central directory on disk $eocdCdDisk)")

    var total: Long = u16(tail, eocd + 10).toLong
    var cdSize: Long = u32(tail, eocd + 12)
    var cdOffset: Long = u32(tail, eocd + 16)
    val saturated = total == 0xffffL || cdSize == 0xffffffffL ||
      cdOffset == 0xffffffffL || eocdDisk == 0xffff || eocdCdDisk == 0xffff
    // ZIP64 EOCD locator sits immediately before the EOCD when present.
    // Detection is by signature, and a valid non-ZIP64 archive's last data
    // bytes can coincidentally contain it — so when the plain EOCD fields
    // are NOT saturated (the archive does not need ZIP64), any malformed
    // ZIP64 chain falls back to the EOCD values instead of hard-failing;
    // when they ARE saturated the chain is required and failures are
    // clean ZipExceptions (never an EOFException from an overrun read).
    val zip64: Option[(Long, Long, Long)] =
      if (eocd >= 20 && u32(tail, eocd - 20) == Eocd64LocatorSig) {
        def bad(msg: String): Option[(Long, Long, Long)] =
          if (saturated) throw new ZipException(msg) else None
        val locDisk = u32(tail, eocd - 20 + 4)
        val locTotalDisks = u32(tail, eocd - 20 + 16)
        val rec64At = u64(tail, eocd - 20 + 8)
        if (locDisk != 0L || locTotalDisks > 1L)
          bad(s"split archives unsupported (ZIP64 locator: record on disk $locDisk of $locTotalDisks)")
        else if (rec64At < 0 || rec64At + 56 > src.length)
          bad(s"ZIP64 EOCD locator points outside archive ($rec64At)")
        else {
          val rec = src.readAt(rec64At, 56)
          if (u32(rec, 0) != Eocd64Sig)
            bad(s"bad ZIP64 end-of-central-directory record at $rec64At")
          else if (u32(rec, 16) != 0L || u32(rec, 20) != 0L)
            throw new ZipException(
              s"split archives unsupported (ZIP64 EOCD: disk ${u32(rec, 16)}, central directory on disk ${u32(rec, 20)})")
          else Some((u64(rec, 32), u64(rec, 40), u64(rec, 48)))
        }
      } else None
    zip64 match {
      case Some((t, sz, off)) => total = t; cdSize = sz; cdOffset = off
      case None if saturated =>
        throw new ZipException(
          "EOCD carries ZIP64 sentinel values but no ZIP64 locator precedes it (corrupt archive)")
      case None => ()
    }
    if (cdSize > MaxEntryBytes)
      throw new ZipException(s"central directory of $cdSize bytes exceeds the single-buffer limit")
    if (cdOffset < 0 || cdOffset + cdSize > src.length)
      throw new ZipException(s"central directory span [$cdOffset, ${cdOffset + cdSize}) outside archive")

    val cd = src.readAt(cdOffset, cdSize.toInt)
    val out = Vector.newBuilder[Entry]
    var p = 0
    var n = 0L
    while (n < total) {
      if (p + 46 > cd.length || u32(cd, p) != CdSig)
        throw new ZipException(s"bad central-directory record at ${cdOffset + p}")
      val method = u16(cd, p + 10)
      val crc = u32(cd, p + 16)
      var csize = u32(cd, p + 20)
      var usize = u32(cd, p + 24)
      val nameLen = u16(cd, p + 28)
      val extraLen = u16(cd, p + 30)
      val commentLen = u16(cd, p + 32)
      val disk = u16(cd, p + 34)
      var offset = u32(cd, p + 42)
      if (p + 46 + nameLen + extraLen > cd.length)
        throw new ZipException(s"truncated central-directory record at ${cdOffset + p}")
      // Entries on another disk of a split archive cannot be read from
      // this byte source — fail with the real reason, not a downstream
      // LocalSig mismatch. 0xffff defers to the ZIP64 extra field below.
      if (disk != 0 && disk != 0xffff)
        throw new ZipException(
          s"split archives unsupported (central-directory entry on disk $disk)")
      // ZIP64 extended-information extra field (id 0x0001): holds, IN
      // ORDER, 8-byte replacements for exactly the header fields that are
      // saturated (usize, csize, offset; then a 4-byte disk number).
      if (csize == 0xffffffffL || usize == 0xffffffffL ||
          offset == 0xffffffffL || disk == 0xffff) {
        var q = p + 46 + nameLen
        val extraEnd = q + extraLen
        var found = false
        while (q + 4 <= extraEnd && !found) {
          val id = u16(cd, q)
          val sz = u16(cd, q + 2)
          if (id == 0x0001) {
            // Validate BEFORE reading: a corrupt `sz` must yield a clean
            // ZipException, not an out-of-bounds read past the extra area
            // (or past the directory buffer when the record is last).
            val need = Seq(usize, csize, offset).count(_ == 0xffffffffL) * 8 +
              (if (disk == 0xffff) 4 else 0)
            if (q + 4 + sz > extraEnd)
              throw new ZipException(
                s"ZIP64 extra field of $sz bytes overruns the extra area")
            if (need > sz)
              throw new ZipException(
                s"ZIP64 extra field of $sz bytes too short for its sentinels")
            var f = q + 4
            if (usize == 0xffffffffL) { usize = u64(cd, f); f += 8 }
            if (csize == 0xffffffffL) { csize = u64(cd, f); f += 8 }
            if (offset == 0xffffffffL) { offset = u64(cd, f); f += 8 }
            if (usize < 0 || csize < 0 || offset < 0)
              throw new ZipException(
                s"ZIP64 extra field carries a negative size or offset")
            if (disk == 0xffff && u32(cd, f) != 0L)
              throw new ZipException(
                s"split archives unsupported (ZIP64 entry on disk ${u32(cd, f)})")
            found = true
          } else q += 4 + sz
        }
        if (!found)
          throw new ZipException(
            "central-directory record carries ZIP64 sentinel values but no 0x0001 extra field")
      }
      val name = new String(cd, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      out += Entry(name, method, csize, usize, offset, crc)
      p += 46 + nameLen + extraLen + commentLen
      n += 1
    }
    out.result()
  }

  /** Inflate ONE entry by its central-directory row: two ranged reads —
    * the 30-byte local header (whose own name/extra lengths position the
    * data; they can differ from the central record's), then exactly the
    * compressed span. Sizes come from the central record because a
    * streamed local header (flag bit 3) stores zeros there. In order:
    * the 2 GiB bound, the archive's `budget` (charged with the declared
    * size before any buffer is allocated), the stored-size check, a
    * deflate stream that ends exactly at both declared sizes, and the
    * CRC-32. */
  def read(src: ZipByteSource, e: Entry, budget: Budget): Array[Byte] = {
    if (e.compressedSize > MaxEntryBytes || e.size > MaxEntryBytes)
      throw new ZipException(
        s"entry ${e.name} is ${e.size} bytes (${e.compressedSize} compressed) — " +
          "exceeds the 2 GiB single-entry buffer limit")
    budget.charge(e)
    val p = e.localHeaderOffset
    if (p < 0 || p + 30 > src.length)
      throw new ZipException(s"bad local header offset for ${e.name} at $p")
    val lh = src.readAt(p, 30)
    if (u32(lh, 0) != LocalSig)
      throw new ZipException(s"bad local header for ${e.name} at $p")
    val nameLen = u16(lh, 26)
    val extraLen = u16(lh, 28)
    val dataStart = p + 30 + nameLen + extraLen
    if (dataStart + e.compressedSize > src.length)
      throw new ZipException(s"truncated entry data for ${e.name}")
    val out = e.method match {
      case 0 =>
        // A stored entry's two central-directory sizes must agree; on a
        // corrupt record a clipped read would silently zero-pad (or clip)
        // to the claimed uncompressed size instead of failing.
        if (e.size != e.compressedSize)
          throw new ZipException(s"stored entry ${e.name} has size ${e.size}" +
            s" != compressed size ${e.compressedSize} (corrupt record)")
        src.readAt(dataStart, e.size.toInt)
      case 8 => inflate(src.readAt(dataStart, e.compressedSize.toInt), e)
      case m => throw new ZipException(s"unsupported compression method $m for ${e.name}")
    }
    val crc = new CRC32
    crc.update(out)
    if (crc.getValue != e.crc32)
      throw new ZipException(
        f"invalid entry CRC for ${e.name} (expected 0x${e.crc32}%x but got 0x${crc.getValue}%x)")
    out
  }

  private def inflate(data: Array[Byte], e: Entry): Array[Byte] = {
    val inf = new Inflater(true)
    try {
      inf.setInput(data)
      val out = new Array[Byte](e.size.toInt)
      var written = 0
      while (written < out.length && !inf.finished()) {
        val k = inf.inflate(out, written, out.length - written)
        if (k == 0 && inf.needsInput())
          throw new ZipException(s"truncated deflate stream for ${e.name}")
        written += k
      }
      if (written != out.length)
        throw new ZipException(s"short inflate for ${e.name}: $written/${out.length}")
      // A full buffer may still sit before the final block's end marker;
      // one spare byte of room tells that apart from an understated size.
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0)
        throw new ZipException(s"entry ${e.name} inflates past its declared ${e.size} bytes")
      if (!inf.finished())
        throw new ZipException(s"truncated deflate stream for ${e.name}")
      if (inf.getRemaining != 0)
        throw new ZipException(s"deflate stream of ${e.name} ends ${inf.getRemaining} bytes " +
          s"before its declared ${e.compressedSize} compressed bytes")
      out
    } catch {
      case d: DataFormatException => throw new ZipException(s"bad deflate data for ${e.name}: ${d.getMessage}")
    } finally inf.end()
  }

  /** Array conveniences for tests: `read` charges a fresh budget. */
  def centralDirectory(bytes: Array[Byte]): Vector[Entry] =
    centralDirectory(new ArrayZipSource(bytes))
  def read(bytes: Array[Byte], e: Entry): Array[Byte] =
    read(new ArrayZipSource(bytes), e, new Budget(bytes.length))
}
