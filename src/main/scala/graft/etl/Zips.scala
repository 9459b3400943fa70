package graft.etl

import java.util.zip.ZipException
import scala.collection.mutable

import graft.sources.{ArrayZipSource, ZipCentral}

/** In-memory ZIP reading for audit archives (reference parity: etl.js:81-87
  * `readEntry`, 102-108 magic check, 184-213 nested ZIP) through
  * [[ZipCentral]], which owns the format. Audit ZIPs are bounded-size (one
  * per client run), so whole-archive maps are the right granularity; scale
  * comes from processing MANY archives in parallel (see AuditPipeline).
  */
object Zips {

  /** All entries as an insertion-ordered name→bytes map; a repeated name
    * keeps its first position and its last bytes. Throws ZipException on a
    * corrupt archive (mirrors AdmZip's constructor throw, which the
    * nested-ZIP handler catches → `partial`) and on one that inflates past
    * its [[ZipCentral.Budget]], before the excess is buffered. */
  def entries(bytes: Array[Byte]): mutable.LinkedHashMap[String, Array[Byte]] = {
    if (!ZipCentral.isZip(bytes)) throw new ZipException("not a zip archive (bad magic)")
    val src = new ArrayZipSource(bytes)
    val budget = new ZipCentral.Budget(bytes.length)
    val out = mutable.LinkedHashMap.empty[String, Array[Byte]]
    for (e <- ZipCentral.centralDirectory(src) if !e.isDirectory)
      out(e.name) = ZipCentral.read(src, e, budget)
    out
  }
}
