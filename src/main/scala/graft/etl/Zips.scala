package graft.etl

import java.io.ByteArrayInputStream
import java.util.zip.{ZipEntry, ZipException, ZipInputStream}
import scala.collection.mutable

/** In-memory ZIP reading for audit archives (reference parity:
  * /root/reference/src/etl.js:81-87 `readEntry`, 102-108 magic check,
  * 184-213 nested ZIP). Audit ZIPs are bounded-size (one per client run),
  * so whole-archive maps are the right granularity; scale comes from
  * processing MANY archives in parallel (see AuditPipeline).
  */
object Zips {

  /** `zipBuf[0] === 0x50 && zipBuf[1] === 0x4B` (etl.js:102). */
  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 0x50.toByte && bytes(1) == 0x4B.toByte

  /** Zip-bomb guards: all entries of one archive together inflate to at
    * most `MaxInflatedBytes`, and to at most `MaxRatio` times the
    * archive's own size once past `RatioFloorBytes`. */
  val MaxInflatedBytes: Long = 512L << 20
  val MaxRatio: Long = 100
  val RatioFloorBytes: Long = 16L << 20

  /** All entries as an insertion-ordered name→bytes map. Throws
    * ZipException on a corrupt archive (mirrors AdmZip's constructor
    * throw, which the nested-ZIP handler catches → `partial`) and on one
    * that inflates past the guards above, before the excess is buffered. */
  def entries(bytes: Array[Byte]): mutable.LinkedHashMap[String, Array[Byte]] = {
    if (!isZip(bytes)) throw new ZipException("not a zip archive (bad magic)")
    val budget = math.min(MaxInflatedBytes, math.max(RatioFloorBytes, MaxRatio * bytes.length))
    var left = budget
    val out = mutable.LinkedHashMap.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e: ZipEntry = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          // readNBytes grows in small chunks, so the bound caps the buffer.
          val data = zin.readNBytes((left + 1).toInt)
          if (data.length > left)
            throw new ZipException(s"entry ${e.getName} inflates the ${bytes.length}-byte " +
              s"archive past its $budget-byte limit")
          left -= data.length
          out(e.getName) = data
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out
  }
}
