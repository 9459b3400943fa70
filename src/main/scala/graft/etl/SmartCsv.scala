package graft.etl

import java.nio.charset.StandardCharsets
import scala.collection.MapFactory
import scala.collection.immutable.{AbstractMap, VectorMap}
import scala.collection.mutable

/** Encoding-sniffing, delimiter-retrying CSV reader (reference parity:
  * /root/reference/src/etl.js:9-42 `parseCsvSmart`).
  *
  * Strategy, exactly as the reference orders it:
  *   1. sniff UTF-16: a UTF-16 BOM (FFFE/FEFF) or >10% NUL bytes in the
  *      first 4096 bytes;
  *   2. if not sniffed UTF-16: try UTF-8 with delimiter auto-detection —
  *      accept unless "bad" (>5 row errors, or zero data rows);
  *   3. decode UTF-16LE and try TAB;
  *   4. fall back to UTF-16LE + COMMA (returned even if bad).
  *
  * Rows are header-keyed maps. The header → column table is built once per
  * file and each row is a small read-only view over that table and the
  * row's own fields (no per-row hash map). Keys iterate in header order
  * (pickCol's shadowing rules and the reference's Object.keys(rows[0])
  * both depend on it). A row shorter than the header yields NO key for the
  * missing columns (mirrors JS undefined fields — see JsRow); fields past
  * the header are dropped. When a header name repeats, the last column of
  * that name inside the row wins, at the position of the name's first
  * occurrence (what `header.zip(fields).to(VectorMap)` gives). A row with
  * a mismatched field count counts as one error (mirrors PapaParse's
  * TooFewFields/TooManyFields).
  */
object SmartCsv {

  final case class Parsed(rows: Vector[Map[String, String]], errors: Int) {
    /** `(res.errors?.length > 5) || (!res.data || res.data.length === 0)` */
    def isBad: Boolean = errors > 5 || rows.isEmpty
  }

  def looksUtf16(bytes: Array[Byte]): Boolean = {
    val bom = bytes.length >= 2 &&
      ((bytes(0) == 0xFF.toByte && bytes(1) == 0xFE.toByte) ||
       (bytes(0) == 0xFE.toByte && bytes(1) == 0xFF.toByte))
    val probeLen = math.min(bytes.length, 4096)
    var nulls = 0
    var i = 0
    while (i < probeLen) { if (bytes(i) == 0) nulls += 1; i += 1 }
    bom || (probeLen > 0 && nulls.toDouble / probeLen > 0.10)
  }

  /** Full smart parse: returns the row maps (empty when everything failed,
    * as the reference returns `[]`). */
  def parse(bytes: Array[Byte]): Vector[Map[String, String]] = {
    if (!looksUtf16(bytes)) {
      val utf8 = parseText(new String(bytes, StandardCharsets.UTF_8), None)
      if (!utf8.isBad) return utf8.rows
    }
    val text16 = new String(bytes, StandardCharsets.UTF_16LE)
    val tab = parseText(text16, Some('\t'))
    if (!tab.isBad) return tab.rows
    parseText(text16, Some(',')).rows
  }

  /** Parse decoded text; `delimiter=None` auto-detects (PapaParse-style:
    * the candidate delimiter most frequent in the first non-empty line). */
  def parseText(text: String, delimiter: Option[Char]): Parsed = {
    val t = if (text.startsWith("\uFEFF")) text.substring(1) else text
    val delim = delimiter.getOrElse(guessDelimiter(t))
    val records = splitRecords(t, delim)
    if (records.isEmpty) return Parsed(Vector.empty, 0)
    val header = Header(records(0))
    var errors = 0
    val rows = Vector.newBuilder[Map[String, String]]
    rows.sizeHint(records.length - 1)
    var r = 1
    while (r < records.length) {
      val fields = records(r)
      if (fields.length != header.width) errors += 1
      rows += new Row(header, fields)
      r += 1
    }
    Parsed(rows.result(), errors)
  }

  /** The column table of one file, shared by all of its rows. `names` are
    * the distinct header names in first-occurrence order; `cols(k)` lists,
    * ascending, the columns named `names(k)`; `present(n)` is how many names
    * a row of `n` fields has (first occurrences ascend with `k`, so the
    * names a short row has are always a prefix of `names`). */
  private final class Header(val width: Int, val names: Array[String],
                             val cols: Array[Array[Int]]) extends Serializable {
    val slot: Map[String, Int] = names.zipWithIndex.toMap
    val present: Array[Int] = {
      val p = new Array[Int](width + 1)
      var k = 0
      for (n <- 1 to width) {
        while (k < cols.length && cols(k)(0) < n) k += 1
        p(n) = k
      }
      p
    }
  }

  private object Header {
    def apply(columns: Array[String]): Header = {
      val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
      for (c <- columns.indices)
        byName.getOrElseUpdate(columns(c), mutable.ArrayBuffer.empty[Int]) += c
      new Header(columns.length, byName.keys.toArray, byName.values.map(_.toArray).toArray)
    }
  }

  /** One CSV row as a read-only map over its file's `Header` and its own
    * fields. It reads like `header.zip(fields).to(VectorMap)`: keys in
    * header order, no key for a column past the end of a short row, and for
    * a repeated header name the last such column inside the row wins, at
    * the first occurrence's position. Equality and hashCode are those of
    * any other `Map`. Every derived map (`updated`, `removed`, `filter`,
    * `map`, ...) is a `VectorMap`, so it keeps header order too. */
  private final class Row(h: Header, fields: Array[String])
      extends AbstractMap[String, String] with Serializable {
    override val size: Int = h.present(math.min(fields.length, h.width))

    /** The column that holds the value of slot `k < size` in this row. */
    private def colOf(k: Int): Int = {
      val cs = h.cols(k)
      var j = cs.length - 1
      while (cs(j) >= fields.length) j -= 1
      cs(j)
    }
    private def slotOf(key: String): Int = {
      val k = h.slot.getOrElse(key, -1)
      if (k < size) k else -1
    }

    def get(key: String): Option[String] = {
      val k = slotOf(key)
      if (k >= 0) Some(fields(colOf(k))) else None
    }
    override def knownSize: Int = size

    def iterator: Iterator[(String, String)] =
      Iterator.range(0, size).map(k => (h.names(k), fields(colOf(k))))

    override def mapFactory: MapFactory[Map] = VectorMap
    def removed(key: String): Map[String, String] = VectorMap.from(this).removed(key)
    def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
      VectorMap.from[String, V1](this).updated(key, value)
  }

  private val DelimCandidates = Seq(',', '\t', '|', ';')

  def guessDelimiter(text: String): Char = {
    val firstLine = text.linesIterator.find(_.nonEmpty).getOrElse("")
    DelimCandidates.maxBy(d => firstLine.count(_ == d))
  }

  /** RFC-4180-ish record split: quoted fields (with "" escapes) may contain
    * delimiters and newlines; a quote anywhere in a field opens quoting; a
    * trailing final newline does not produce an empty record (PapaParse
    * behavior), and a record of one empty field (a blank line) is dropped.
    * A field without quotes is one `substring` of the text; only a quoted
    * field goes through the builder. */
  private def splitRecords(text: String, delim: Char): Vector[Array[String]] = {
    val out = Vector.newBuilder[Array[String]]
    val record = mutable.ArrayBuffer.empty[String]
    val quoted = new java.lang.StringBuilder
    var isQuoted = false   // the current field has had a quote: use `quoted`
    var inQuotes = false
    var start = 0          // where the current unquoted field began
    var i = 0
    val n = text.length
    def endField(at: Int): Unit = {
      if (isQuoted) { record += quoted.toString; quoted.setLength(0); isQuoted = false }
      else record += text.substring(start, at)
    }
    def endRecord(at: Int): Unit = {
      endField(at)
      if (!(record.length == 1 && record(0).isEmpty)) out += record.toArray
      record.clear()
    }
    while (i < n) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && text.charAt(i + 1) == '"') { quoted.append('"'); i += 1 }
          else inQuotes = false
        } else quoted.append(c)
      } else if (c == '"') {
        if (!isQuoted) { quoted.append(text, start, i); isQuoted = true }
        inQuotes = true
      } else if (c == delim) {
        endField(i); start = i + 1
      } else if (c == '\r' || c == '\n') {
        endRecord(i)
        if (c == '\r' && i + 1 < n && text.charAt(i + 1) == '\n') i += 1
        start = i + 1
      } else if (isQuoted) quoted.append(c)
      i += 1
    }
    // Final record unless the text ended with a record terminator.
    val fieldEmpty = if (isQuoted) quoted.length == 0 else start == n
    if (!fieldEmpty || record.nonEmpty) endRecord(n)
    out.result()
  }
}
