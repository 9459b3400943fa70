package graft.etl

import java.io.ByteArrayInputStream
import java.util.zip.{ZipEntry, ZipInputStream}
import scala.collection.mutable

/** The JDK's streaming reader, as an oracle for `ZipCentral`: every entry
  * of an archive, read from its local headers, as an insertion-ordered
  * name→bytes map (a repeated name keeps its first position and its last
  * bytes). `ZipInputStream` checks sizes and CRC-32 itself. */
object JdkZip {
  def entries(bytes: Array[Byte]): mutable.LinkedHashMap[String, Array[Byte]] = {
    val out = mutable.LinkedHashMap.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e: ZipEntry = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out
  }
}
