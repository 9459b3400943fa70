package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}

/** Multimodal column support (builder-prompt family): media as opaque
  * `binary` columns + typed metadata, with per-partition batch operators
  * for decode / feature-extract / resize / frame-sample.
  *
  * What is REAL here: the schema contract, the container-format sniffing,
  * PNG/JPEG/WAV header parsing (pure JVM byte inspection), TRUE pixel
  * decode for PNG/JPEG via `javax.imageio` (in the JDK — no external
  * codec), TRUE sample decode for PCM16 WAV (pure byte math), the
  * mapPartitions batch shape, and the partitioning behavior. What remains
  * STUBBED: compressed-audio / video / unknown formats fall back to
  * `decodeStub`, a deterministic byte-derived vector — register a
  * [[MediaCodec]] in [[Codecs]] to productionize; the Spark plumbing
  * (signatures, batching, distribution) does not change when that swap
  * happens.
  *
  * Scale notes: media blobs ride in parquet binary columns; operators are
  * embarrassingly parallel per-partition maps with NO shuffle. Metadata
  * extraction reads only leading bytes, so a scan projecting metadata
  * should select header prefixes at write time (store `header` alongside
  * `content` for pushdown-friendly scans at 100 TB).
  */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int,
                             channels: Int, sampleRateHz: Int, durationMs: Long)

  /** Container sniffing + header metadata from leading bytes only. */
  def parseMeta(bytes: Array[Byte]): MediaMeta = {
    def u32be(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.BIG_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    def u32le(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    def u16le(off: Int): Int =
      ByteBuffer.wrap(bytes, off, 2).order(ByteOrder.LITTLE_ENDIAN).getShort.toInt & 0xFFFF

    if (bytes.length >= 24 &&
        bytes.startsWith(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))) {
      // PNG: IHDR is always the first chunk; width/height at offsets 16/20.
      MediaMeta("png", u32be(16).toInt, u32be(20).toInt, channels = 0,
        sampleRateHz = 0, durationMs = 0L)
    } else if (bytes.length >= 4 &&
               bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) {
      // JPEG: walk markers to the first SOFn for dimensions.
      var i = 2
      var w = 0; var h = 0
      while (i + 9 < bytes.length && w == 0) {
        if (bytes(i) == 0xFF.toByte) {
          val marker = bytes(i + 1) & 0xFF
          val len = ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
            h = ((bytes(i + 5) & 0xFF) << 8) | (bytes(i + 6) & 0xFF)
            w = ((bytes(i + 7) & 0xFF) << 8) | (bytes(i + 8) & 0xFF)
          } else i += 2 + len
        } else i += 1
      }
      MediaMeta("jpeg", w, h, 0, 0, 0L)
    } else if (bytes.length >= 10 &&
               (bytes.startsWith("GIF87a".getBytes) || bytes.startsWith("GIF89a".getBytes))) {
      // GIF: logical screen width/height as LE u16 at offsets 6/8.
      MediaMeta("gif", u16le(6), u16le(8), 0, 0, 0L)
    } else if (bytes.length >= 12 && bytes.startsWith("RIFF".getBytes) &&
               new String(bytes, 8, 4) == "AVI ") {
      // AVI: width/height/frame timing from the avih header inside the
      // hdrl LIST (canonical offsets cannot be assumed — walk the lists).
      aviMainHeader(bytes) match {
        case Some((usPerFrame, totalFrames, w, h)) =>
          val durMs = if (usPerFrame > 0) usPerFrame * totalFrames / 1000L else 0L
          MediaMeta("avi", w, h, channels = 0, sampleRateHz = 0, durationMs = durMs)
        case None => MediaMeta("avi", 0, 0, 0, 0, 0L)
      }
    } else if (bytes.length >= 12 && bytes.startsWith("RIFF".getBytes) &&
               new String(bytes, 8, 4) == "WAVE") {
      // WAV: walk the RIFF chunk list — extra chunks (LIST, fact, …) may
      // precede fmt/data, so canonical offsets cannot be assumed.
      (riffChunk(bytes, "fmt "), riffChunk(bytes, "data")) match {
        case (Some((fmtOff, fmtLen)), dataOpt) if fmtLen >= 16 =>
          val channels = u16le(fmtOff + 2)
          val rate = u32le(fmtOff + 4).toInt
          val byteRate = u32le(fmtOff + 8)
          val dataSize = dataOpt.map(_._2.toLong).getOrElse(0L)
          val durMs = if (byteRate > 0) dataSize * 1000L / byteRate else 0L
          MediaMeta("wav", 0, 0, channels, rate, durMs)
        case _ => MediaMeta("wav", 0, 0, 0, 0, 0L)
      }
    } else if (bytes.length >= 26 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) {
      // BMP: BITMAPINFOHEADER width/height as signed LE s32 at offsets
      // 18/22 (negative height = top-down row order; magnitude is the
      // pixel height either way).
      val w = ByteBuffer.wrap(bytes, 18, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      val h = ByteBuffer.wrap(bytes, 22, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      MediaMeta("bmp", w, math.abs(h), channels = 0, sampleRateHz = 0, durationMs = 0L)
    } else if (bytes.length >= 14 && bytes.startsWith("qoif".getBytes)) {
      // QOI (qoiformat.org): width/height as BE u32 at offsets 4/8,
      // channel count (3/4) at 12.
      MediaMeta("qoi", u32be(4).toInt, u32be(8).toInt,
        channels = bytes(12) & 0xFF, sampleRateHz = 0, durationMs = 0L)
    } else MediaMeta("unknown", 0, 0, 0, 0, 0L)
  }

  /** RIFF chunk walk: (payload offset, payload size clamped to the buffer)
    * of the first chunk with the given 4-char id, or None. Sizes are
    * unsigned u32 and chunks are word-aligned (odd sizes carry a pad
    * byte). */
  private def riffChunk(bytes: Array[Byte], id: String): Option[(Int, Int)] = {
    def u32le(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    var off = 12
    while (off + 8 <= bytes.length) {
      val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val declared = u32le(off + 4)
      val avail = math.min(declared, (bytes.length - off - 8).toLong).toInt
      if (cid == id) return Some((off + 8, avail))
      // Advance in Long: a corrupt 0xFFFFFFFF size must terminate the
      // walk, not overflow Int into an infinite loop.
      val next = off.toLong + 8L + declared + (declared & 1L)
      if (next > Int.MaxValue) return None
      off = next.toInt
    }
    None
  }

  /** Iterate the RIFF chunk sequence in bytes[from, to): (chunk id,
    * payload offset, payload length clamped to the range). LIST chunks are
    * yielded as-is (id "LIST"; the 4-char list type is the first payload
    * word) — callers recurse with the payload range. */
  private def riffChildren(bytes: Array[Byte], lo: Int, hi: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var off = lo
      def hasNext: Boolean = off + 8 <= math.min(hi, bytes.length)
      def next(): (String, Int, Int) = {
        val id = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val declared = ByteBuffer.wrap(bytes, off + 4, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
        val payloadOff = off + 8
        val avail = math.max(0, math.min(declared, (math.min(hi, bytes.length) - payloadOff).toLong).toInt)
        // Advance in Long: a corrupt size must end iteration, not loop.
        val nxt = payloadOff.toLong + declared + (declared & 1L)
        off = if (nxt > Int.MaxValue) Int.MaxValue else nxt.toInt
        (id, payloadOff, avail)
      }
    }

  /** Payload range (offset, length) of the first LIST of `listType` among
    * the chunks in [from, to) — the list type word is skipped. */
  private def riffList(bytes: Array[Byte], from: Int, to: Int, listType: String): Option[(Int, Int)] =
    riffChildren(bytes, from, to).collectFirst {
      case ("LIST", off, len) if len >= 4 &&
        new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII) == listType =>
        (off + 4, len - 4)
    }

  /** avih MainAVIHeader fields: (µs per frame, total frames, width,
    * height). */
  private def aviMainHeader(bytes: Array[Byte]): Option[(Long, Long, Int, Int)] = {
    def u32le(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    for {
      (h0, hl) <- riffList(bytes, 12, bytes.length, "hdrl")
      (o, l) <- riffChildren(bytes, h0, h0 + hl).collectFirst { case ("avih", o, l) if l >= 40 => (o, l) }
    } yield (u32le(o), u32le(o + 16), u32le(o + 32).toInt, u32le(o + 36).toInt)
  }

  /** The first video stream's BITMAPINFOHEADER: (biWidth, biHeight,
    * biBitCount, biCompression). biHeight > 0 means bottom-up rows. */
  private def aviVideoFormat(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u32le(off: Int): Long =
      ByteBuffer.wrap(bytes, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong & 0xFFFFFFFFL
    def u16le(off: Int): Int =
      ByteBuffer.wrap(bytes, off, 2).order(ByteOrder.LITTLE_ENDIAN).getShort.toInt & 0xFFFF
    for {
      (h0, hl) <- riffList(bytes, 12, bytes.length, "hdrl")
      strl <- riffChildren(bytes, h0, h0 + hl).collectFirst {
        case ("LIST", off, len) if len >= 4 &&
          new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII) == "strl" &&
          riffChildren(bytes, off + 4, off + len).exists { case (id, o, l) =>
            id == "strh" && l >= 4 &&
              new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII) == "vids"
          } => (off + 4, len - 4)
      }
      (o, _) <- riffChildren(bytes, strl._1, strl._1 + strl._2)
        .collectFirst { case ("strf", o, l) if l >= 40 => (o, l) }
    } yield (u32le(o + 4).toInt, u32le(o + 8).toInt, u16le(o + 14), u32le(o + 16))
  }

  /** REAL frame decode for uncompressed AVI (BI_RGB 24-bit DIB frames in
    * '..db'/'..dc' movi chunks — the one video container decodable with
    * zero codec dependencies): bottom-up BGR rows padded to 4-byte
    * stride, exactly the on-disk DIB layout. None when the video stream
    * is compressed (biCompression != 0), not 24-bit, or headers/movi are
    * missing — those fall to the stub via the codec registry. */
  def decodeAviFrames(bytes: Array[Byte]): Option[Vector[java.awt.image.BufferedImage]] = {
    if (bytes.length < 12 || !bytes.startsWith("RIFF".getBytes) ||
        new String(bytes, 8, 4) != "AVI ") return None
    aviVideoFormat(bytes) match {
      case Some((w, hRaw, 24, 0L)) if w > 0 && hRaw != 0 =>
        val bottomUp = hRaw > 0
        val h = math.abs(hRaw)
        val stride = ((w * 3 + 3) / 4) * 4
        riffList(bytes, 12, bytes.length, "movi").map { case (m0, ml) =>
          riffChildren(bytes, m0, m0 + ml).collect {
            case (id, off, len) if id.endsWith("db") || id.endsWith("dc") =>
              (off, len)
          }.filter(_._2 >= stride * h).map { case (off, _) =>
            val im = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              val srcRow = off + (if (bottomUp) (h - 1 - y) else y) * stride
              var x = 0
              while (x < w) {
                val b = bytes(srcRow + x * 3) & 0xFF
                val g = bytes(srcRow + x * 3 + 1) & 0xFF
                val r = bytes(srcRow + x * 3 + 2) & 0xFF
                im.setRGB(x, y, (r << 16) | (g << 8) | b)
                x += 1
              }
              y += 1
            }
            im
          }.toVector
        }.filter(_.nonEmpty)
      case _ => None
    }
  }

  /** Feature vector for uncompressed AVI: the componentwise MEAN of the
    * per-frame image stats over at most the first 16 frames (bounds work
    * per blob; deterministic), with the video's own duration in slot 5.
    */
  def decodeAviFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeAviFrames(bytes).map { frames =>
      val sampled = frames.take(16)
      val acc = new Array[Float](8)
      sampled.foreach { im =>
        val s = imageStats(im)
        var i = 0
        while (i < 8) { acc(i) += s(i) / sampled.size; i += 1 }
      }
      acc(5) = math.log1p(parseMeta(bytes).durationMs.toDouble).toFloat
      acc
    }

  /** REAL pixel decode for PNG/JPEG (javax.imageio is in the JDK): 8-dim
    * feature vector [meanR, meanG, meanB, meanLuma, stdLuma (all 0..1),
    * log1p(width), log1p(height), aspect]. None when ImageIO cannot decode
    * the bytes (corrupt container). */
  def decodeImageFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    val img = try {
      Option(MemImageIO.read(bytes))
    } catch { case _: Exception => None }
    img.map(imageStats)
  }

  /** The 8-dim pixel feature vector of one decoded image (shared by the
    * PNG/JPEG path and per-frame video stats). */
  private[multimodal] def imageStats(im: java.awt.image.BufferedImage): Array[Float] = {
    val w = im.getWidth; val h = im.getHeight
    var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
    // Bulk scanline reads: per-pixel getRGB(x, y) pays a ColorModel
    // conversion + bounds check per call, which dominates the decode
    // hot loop on megapixel images.
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      im.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
        val l = 0.299 * r + 0.587 * g + 0.114 * b
        sr += r; sg += g; sb += b; sl += l; sl2 += l * l
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val meanL = sl / n
    val varL = math.max(sl2 / n - meanL * meanL, 0.0)
    Array[Float](
      (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
      (meanL / 255.0).toFloat, (math.sqrt(varL) / 255.0).toFloat,
      math.log1p(w.toDouble).toFloat, math.log1p(h.toDouble).toFloat,
      (w.toDouble / h).toFloat)
  }

  /** REAL pixel decode for BMP, hand-rolled from the public Windows
    * BITMAPINFOHEADER layout (no ImageIO): BI_RGB at 8 (palettized), 24,
    * and 32 bpp, and the RLE8 COMPRESSED path (BI_RLE8, compression 1) —
    * encoded runs (count, index), absolute mode (0x00 n≥3, word-aligned
    * literals), end-of-line (0x00 0x00), end-of-bitmap (0x00 0x01), and
    * delta (0x00 0x02 dx dy) escapes; pixels a delta/EOL skips stay
    * palette index 0, per the format's convention. Decoded pixels feed
    * the SAME imageStats as the PNG/JPEG path, so the 8-dim feature
    * contract is identical across image codecs. None for other depths/
    * compressions (→ registry stub fallback) and corrupt headers. */
  def decodeBmpFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val hdrSize = bb.getInt(14)
    val w = bb.getInt(18)
    val hRaw = bb.getInt(22)
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    val bpp = bb.getShort(28).toInt & 0xFFFF
    val comp = bb.getInt(30)
    if (w <= 0 || h == 0 || w.toLong * h > 64L * 1024 * 1024) return None
    if (dataOff < 0 || dataOff > bytes.length) return None
    // Palette (BGRA quads) sits right after the info header; 8-bpp needs
    // it, clrUsed 0 means the full 256 entries.
    def palette(): Option[Array[Int]] = {
      val clrUsed = if (hdrSize >= 36) bb.getInt(46) else 0
      val n = if (clrUsed > 0) clrUsed else 256
      val off = 14 + hdrSize
      if (off + 4L * n > bytes.length) return None
      Some(Array.tabulate(n) { i =>
        val b = bytes(off + 4 * i) & 0xFF
        val g = bytes(off + 4 * i + 1) & 0xFF
        val r = bytes(off + 4 * i + 2) & 0xFF
        (r << 16) | (g << 8) | b
      })
    }
    // Decoded into bitmap space (row 0 = BOTTOM scanline unless topDown),
    // flipped once when building the image.
    val px = new Array[Int](w * h)
    def setPx(x: Int, y: Int, rgb: Int): Unit =
      if (x >= 0 && x < w && y >= 0 && y < h) px(y * w + x) = rgb
    (bpp, comp) match {
      case (24, 0) | (32, 0) =>
        val bypp = bpp / 8
        val stride = ((w * bypp + 3) / 4) * 4
        if (dataOff.toLong + stride.toLong * h > bytes.length) return None
        var y = 0
        while (y < h) {
          val ro = dataOff + y * stride
          var x = 0
          while (x < w) {
            val o = ro + x * bypp
            setPx(x, y, ((bytes(o + 2) & 0xFF) << 16) |
              ((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF))
            x += 1
          }
          y += 1
        }
      case (8, 0) =>
        val pal = palette().getOrElse(return None)
        val stride = ((w + 3) / 4) * 4
        if (dataOff.toLong + stride.toLong * h > bytes.length) return None
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val idx = bytes(dataOff + y * stride + x) & 0xFF
            setPx(x, y, if (idx < pal.length) pal(idx) else 0)
            x += 1
          }
          y += 1
        }
      case (8, 1) => // BI_RLE8 — the compressed path
        val pal = palette().getOrElse(return None)
        java.util.Arrays.fill(px, pal(0))
        var i = dataOff; var x = 0; var y = 0
        var done = false
        while (!done && i + 1 < bytes.length && y < h) {
          val n = bytes(i) & 0xFF
          val c = bytes(i + 1) & 0xFF
          i += 2
          if (n > 0) { // encoded run: n pixels of palette index c
            val rgb = if (c < pal.length) pal(c) else 0
            var k = 0
            while (k < n) { setPx(x, y, rgb); x += 1; k += 1 }
          } else c match {
            case 0 => x = 0; y += 1 // end of line
            case 1 => done = true // end of bitmap
            case 2 => // delta: skip right dx, up dy (bitmap space)
              if (i + 1 >= bytes.length) return None
              x += bytes(i) & 0xFF; y += bytes(i + 1) & 0xFF; i += 2
            case litN => // absolute mode: litN literal indices, word-aligned
              if (i + litN > bytes.length) return None
              var k = 0
              while (k < litN) {
                val idx = bytes(i + k) & 0xFF
                setPx(x, y, if (idx < pal.length) pal(idx) else 0)
                x += 1; k += 1
              }
              i += litN + (litN & 1)
          }
        }
      case _ => return None
    }
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      im.setRGB(0, y, w, 1, px, srcRow * w, w)
      y += 1
    }
    Some(imageStats(im))
  }

  /** REAL pixel decode for QOI (the "Quite OK Image" format,
    * qoiformat.org — a genuinely COMPRESSED lossless format decodable in
    * ~60 lines of pure byte math, no third-party code): all six chunk
    * ops — QOI_OP_RGB (0xFE), QOI_OP_RGBA (0xFF), QOI_OP_INDEX (0b00…,
    * 64-slot running array keyed by (3r+5g+7b+11a) mod 64), QOI_OP_DIFF
    * (0b01…, 2-bit channel deltas biased −2), QOI_OP_LUMA (0b10…, 6-bit
    * green delta biased −32 with 4-bit red/blue deltas relative to it),
    * QOI_OP_RUN (0b11…, run 1..62) — with wrapping byte arithmetic per
    * the spec. Decoded pixels feed the SAME imageStats as PNG/JPEG/BMP,
    * so the 8-dim feature contract is identical across image codecs.
    * None for bad magic, truncated streams, or pixel counts that do not
    * fill width×height exactly. */
  def decodeQoiFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes.length < 22 || !bytes.startsWith("qoif".getBytes)) return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val w = bb.getInt(4); val h = bb.getInt(8)
    val channels = bytes(12) & 0xFF
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
    if (channels != 3 && channels != 4) return None
    val px = new Array[Int](w * h)
    val index = new Array[Int](64) // packed ARGB, zero-initialized per spec
    var r = 0; var g = 0; var b = 0; var a = 255
    var i = 14; var p = 0
    val end = bytes.length - 8 // trailing 7×0x00 + 0x01 marker
    def put(): Unit = { px(p) = (r << 16) | (g << 8) | b; p += 1 }
    def hash: Int = (r * 3 + g * 5 + b * 7 + a * 11) & 63
    while (p < px.length && i < end) {
      val b1 = bytes(i) & 0xFF; i += 1
      if (b1 == 0xFE) { // QOI_OP_RGB
        if (i + 3 > end) return None
        r = bytes(i) & 0xFF; g = bytes(i + 1) & 0xFF; b = bytes(i + 2) & 0xFF
        i += 3; index(hash) = (a << 24) | (r << 16) | (g << 8) | b; put()
      } else if (b1 == 0xFF) { // QOI_OP_RGBA
        if (i + 4 > end) return None
        r = bytes(i) & 0xFF; g = bytes(i + 1) & 0xFF; b = bytes(i + 2) & 0xFF
        a = bytes(i + 3) & 0xFF
        i += 4; index(hash) = (a << 24) | (r << 16) | (g << 8) | b; put()
      } else (b1 >> 6) match {
        case 0 => // QOI_OP_INDEX
          val v = index(b1 & 63)
          a = (v >>> 24) & 0xFF; r = (v >> 16) & 0xFF
          g = (v >> 8) & 0xFF; b = v & 0xFF
          put()
        case 1 => // QOI_OP_DIFF: 2-bit per-channel deltas, bias −2
          r = (r + ((b1 >> 4) & 3) - 2) & 0xFF
          g = (g + ((b1 >> 2) & 3) - 2) & 0xFF
          b = (b + (b1 & 3) - 2) & 0xFF
          index(hash) = (a << 24) | (r << 16) | (g << 8) | b; put()
        case 2 => // QOI_OP_LUMA: green delta −32, red/blue relative, −8
          if (i + 1 > end) return None
          val dg = (b1 & 63) - 32
          val b2 = bytes(i) & 0xFF; i += 1
          r = (r + dg - 8 + ((b2 >> 4) & 15)) & 0xFF
          g = (g + dg) & 0xFF
          b = (b + dg - 8 + (b2 & 15)) & 0xFF
          index(hash) = (a << 24) | (r << 16) | (g << 8) | b; put()
        case _ => // QOI_OP_RUN: 1..62 repeats of the previous pixel
          var run = (b1 & 63) + 1
          if (p + run > px.length) return None
          while (run > 0) { put(); run -= 1 }
      }
    }
    if (p != px.length) return None
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { im.setRGB(0, y, w, 1, px, y * w, w); y += 1 }
    Some(imageStats(im))
  }

  /** REAL sample decode for PCM16 WAV (pure byte math — PCM is just LE
    * int16s): [rms, meanAbs, zeroCrossRatio, peak (all 0..1),
    * log1p(durationMs), sampleRate/48k, channels, 0]. None for non-PCM16
    * or truncated containers. */
  def decodeWavFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    if (bytes.length < 12 || !bytes.startsWith("RIFF".getBytes) ||
        new String(bytes, 8, 4) != "WAVE") return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // Chunk-walked offsets, NOT canonical ones: a valid WAV may carry
    // LIST/fact chunks before fmt/data, and fixed offsets would silently
    // read garbage sample values there.
    val fmt = riffChunk(bytes, "fmt ") match {
      case Some((off, len)) if len >= 16 => off
      case _ => return None
    }
    val audioFormat = bb.getShort(fmt).toInt
    val bits = bb.getShort(fmt + 14).toInt
    if (audioFormat != 1 || bits != 16) return None
    val sampleRate = bb.getInt(fmt + 4)
    val channels = bb.getShort(fmt + 2).toInt
    // The data-chunk size is an UNSIGNED u32 (streaming encoders write
    // 0xFFFFFFFF placeholders) and riffChunk clamps it to the buffer.
    val (dataOff, dataSize) = riffChunk(bytes, "data") match {
      case Some(c) => c
      case None => return None
    }
    val nSamples = dataSize / 2
    if (nSamples <= 0) return Some(Array[Float](0, 0, 0, 0, 0,
      sampleRate / 48000.0f, channels.toFloat, 0f))
    var s2 = 0.0; var sa = 0.0; var peak = 0.0; var zc = 0
    var prev = 0
    var i = 0
    while (i < nSamples) {
      val v = bb.getShort(dataOff + 2 * i).toInt
      val a = math.abs(v) / 32768.0
      s2 += a * a; sa += a; if (a > peak) peak = a
      if (i > 0 && ((v >= 0) != (prev >= 0))) zc += 1
      prev = v
      i += 1
    }
    val meta = parseMeta(bytes)
    Some(Array[Float](
      math.sqrt(s2 / nSamples).toFloat, (sa / nSamples).toFloat,
      (zc.toDouble / nSamples).toFloat, peak.toFloat,
      math.log1p(meta.durationMs.toDouble).toFloat,
      meta.sampleRateHz / 48000.0f, meta.channels.toFloat, 0f))
  }

  /** IMA-ADPCM step-size table (public spec, 89 entries) — the quantizer
    * step per state index; shared by every IMA/DVI ADPCM implementation. */
  private val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724,
    796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
    2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
    7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
    20350, 22385, 24623, 27086, 29794, 32767)

  /** IMA-ADPCM state-index adjustment per 4-bit code. */
  private val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** REAL sample decode for IMA-ADPCM WAV (format tag 0x11, mono): the
    * standard block layout — 4-byte header (int16 LE predictor, u8 step
    * index, u8 reserved) then two 4-bit codes per byte, LOW nibble first —
    * decoded with the public step/index tables to exact int16 samples.
    * Pure JVM byte math, the same deployment class as PCM16. None for
    * multi-channel, truncated, or non-0x11 containers (→ registry
    * fallback). */
  def decodeImaAdpcmSamples(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes.length < 12 || !bytes.startsWith("RIFF".getBytes) ||
        new String(bytes, 8, 4) != "WAVE") return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (fmtOff, fmtLen) = riffChunk(bytes, "fmt ") match {
      case Some((off, len)) if len >= 16 => (off, len)
      case _ => return None
    }
    val audioFormat = bb.getShort(fmtOff).toInt & 0xFFFF
    val channels = bb.getShort(fmtOff + 2).toInt
    val bits = bb.getShort(fmtOff + 14).toInt
    if (audioFormat != 0x11 || bits != 4 || channels != 1) return None
    val blockAlign = bb.getShort(fmtOff + 12).toInt & 0xFFFF
    if (blockAlign < 5) return None
    // wSamplesPerBlock lives in the fmt extension (cbSize=2); derive the
    // canonical value when a lax encoder omitted the extension.
    val samplesPerBlock =
      if (fmtLen >= 20) bb.getShort(fmtOff + 18).toInt & 0xFFFF
      else (blockAlign - 4) * 2 + 1
    val (dataOff, dataSize) = riffChunk(bytes, "data") match {
      case Some(c) => c
      case None => return None
    }
    val out = new scala.collection.mutable.ArrayBuffer[Short](
      (dataSize / blockAlign + 1) * samplesPerBlock)
    var block = dataOff
    val dataEnd = dataOff + dataSize
    while (block + 4 <= dataEnd) {
      var predictor = bb.getShort(block).toInt
      var index = math.min(math.max(bytes(block + 2) & 0xFF, 0), 88)
      out += predictor.toShort // the header predictor IS sample 0
      var produced = 1
      var p = block + 4
      val blockEnd = math.min(block + blockAlign, dataEnd)
      while (p < blockEnd && produced < samplesPerBlock) {
        val b = bytes(p) & 0xFF
        var half = 0
        while (half < 2 && produced < samplesPerBlock) {
          val code = if (half == 0) b & 0xF else (b >> 4) & 0xF
          val step = ImaStepTable(index)
          // diff = (step/8) + (step/4)·b0 + (step/2)·b1 + step·b2 — the
          // shift-add form every IMA implementation uses (no multiply).
          var diff = step >> 3
          if ((code & 1) != 0) diff += step >> 2
          if ((code & 2) != 0) diff += step >> 1
          if ((code & 4) != 0) diff += step
          predictor = if ((code & 8) != 0) predictor - diff else predictor + diff
          if (predictor > 32767) predictor = 32767
          if (predictor < -32768) predictor = -32768
          index = math.min(math.max(index + ImaIndexTable(code), 0), 88)
          out += predictor.toShort
          produced += 1
          half += 1
        }
        p += 1
      }
      block += blockAlign
    }
    if (out.isEmpty) None else Some(out.toArray)
  }

  /** Shared 8-dim audio feature assembly over decoded int16 samples — the
    * same layout as [[decodeWavFeatures]], so PCM, ADPCM, and G.711 audio
    * all land in one feature space. */
  private def audioFeatures(samples: Array[Short], bytes: Array[Byte]): Array[Float] = {
    var s2 = 0.0; var sa = 0.0; var peak = 0.0; var zc = 0
    var prev = 0
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toInt
      val a = math.abs(v) / 32768.0
      s2 += a * a; sa += a; if (a > peak) peak = a
      if (i > 0 && ((v >= 0) != (prev >= 0))) zc += 1
      prev = v
      i += 1
    }
    val n = samples.length
    val meta = parseMeta(bytes)
    Array[Float](
      math.sqrt(s2 / n).toFloat, (sa / n).toFloat,
      (zc.toDouble / n).toFloat, peak.toFloat,
      math.log1p(meta.durationMs.toDouble).toFloat,
      meta.sampleRateHz / 48000.0f, meta.channels.toFloat, 0f)
  }

  /** Feature vector over IMA-ADPCM-decoded samples. */
  def decodeImaAdpcmWavFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeImaAdpcmSamples(bytes).map(audioFeatures(_, bytes))

  /** G.711 μ-law byte → exact int16 (CCITT reference expansion: complement,
    * then magnitude ((mant·8 + 0x84) << exp) − 0x84, sign from bit 7). */
  def mulawToPcm(b: Int): Short = {
    val u = (~b) & 0xFF
    val mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    (if ((u & 0x80) != 0) -mag else mag).toShort
  }

  /** G.711 A-law byte → exact int16 (CCITT reference: XOR 0x55, segment 0
    * is linear (mant·16 + 8), higher segments (mant·16 + 0x108) << seg−1;
    * sign bit SET means positive in A-law). */
  def alawToPcm(b: Int): Short = {
    val a = (b ^ 0x55) & 0xFF
    val seg = (a >> 4) & 7
    val mant = a & 0x0F
    val mag = if (seg == 0) (mant << 4) + 8 else ((mant << 4) + 0x108) << (seg - 1)
    (if ((a & 0x80) != 0) mag else -mag).toShort
  }

  /** REAL sample decode for G.711 WAV (format tag 7 = μ-law, 6 = A-law,
    * 8-bit): one companded byte expands to one int16 via the public CCITT
    * formulas — the standard telephony codecs, same deployment class as
    * PCM16/ADPCM. None for other tags/widths (→ registry fallback). */
  def decodeG711Samples(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes.length < 12 || !bytes.startsWith("RIFF".getBytes) ||
        new String(bytes, 8, 4) != "WAVE") return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val fmtOff = riffChunk(bytes, "fmt ") match {
      case Some((off, len)) if len >= 16 => off
      case _ => return None
    }
    val tag = bb.getShort(fmtOff).toInt & 0xFFFF
    val bits = bb.getShort(fmtOff + 14).toInt
    if ((tag != 6 && tag != 7) || bits != 8) return None
    val (dataOff, dataSize) = riffChunk(bytes, "data") match {
      case Some(c) => c
      case None => return None
    }
    if (dataSize <= 0) return None
    val out = new Array[Short](dataSize)
    var i = 0
    while (i < dataSize) {
      val b = bytes(dataOff + i) & 0xFF
      out(i) = if (tag == 7) mulawToPcm(b) else alawToPcm(b)
      i += 1
    }
    Some(out)
  }

  /** Feature vector over G.711-decoded samples. */
  def decodeG711WavFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeG711Samples(bytes).map(audioFeatures(_, bytes))

  /** MS-ADPCM adaptation table (public spec, 16 entries): next-delta
    * scale per 4-bit code, fixed-point /256. */
  private val MsAdaptTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307, 230,
    230, 230)

  /** The seven standard MS-ADPCM predictor coefficient pairs. Encoders
    * may declare extras in the fmt extension; the block's predictor index
    * selects into whatever the container declares. */
  private val MsStdCoeffs: Array[(Int, Int)] = Array(
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
    (392, -232))

  /** REAL sample decode for MS-ADPCM WAV (format tag 2, mono): per block —
    * u8 predictor index, i16 initial delta, i16 samp1, i16 samp2; output
    * starts samp2 then samp1, then one sample per 4-bit code (HIGH nibble
    * first, unlike IMA): predict = (samp1·c1 + samp2·c2) / 256, sample =
    * clamp(predict + signed4(code)·delta), delta = max(16,
    * adapt[code]·delta / 256). Coefficient pairs come from the fmt
    * extension when declared, else the seven standard pairs. None for
    * multi-channel/other tags (→ registry fallback). */
  def decodeMsAdpcmSamples(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes.length < 12 || !bytes.startsWith("RIFF".getBytes) ||
        new String(bytes, 8, 4) != "WAVE") return None
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (fmtOff, fmtLen) = riffChunk(bytes, "fmt ") match {
      case Some((off, len)) if len >= 16 => (off, len)
      case _ => return None
    }
    val tag = bb.getShort(fmtOff).toInt & 0xFFFF
    val channels = bb.getShort(fmtOff + 2).toInt
    val bits = bb.getShort(fmtOff + 14).toInt
    if (tag != 2 || bits != 4 || channels != 1) return None
    val blockAlign = bb.getShort(fmtOff + 12).toInt & 0xFFFF
    if (blockAlign < 7) return None
    // fmt extension: cbSize, wSamplesPerBlock, wNumCoef, then the pairs.
    val (samplesPerBlock, coeffs) =
      if (fmtLen >= 22) {
        val spb = bb.getShort(fmtOff + 18).toInt & 0xFFFF
        val nCoef = bb.getShort(fmtOff + 20).toInt & 0xFFFF
        if (fmtLen >= 22 + nCoef * 4 && nCoef > 0) {
          val cs = Array.tabulate(nCoef) { i =>
            (bb.getShort(fmtOff + 22 + i * 4).toInt,
             bb.getShort(fmtOff + 24 + i * 4).toInt)
          }
          (spb, cs)
        } else (spb, MsStdCoeffs)
      } else ((blockAlign - 7) * 2 + 2, MsStdCoeffs)
    val (dataOff, dataSize) = riffChunk(bytes, "data") match {
      case Some(c) => c
      case None => return None
    }
    val out = new scala.collection.mutable.ArrayBuffer[Short](
      (dataSize / blockAlign + 1) * samplesPerBlock)
    var block = dataOff
    val dataEnd = dataOff + dataSize
    def clamp16(v: Int): Int =
      if (v > 32767) 32767 else if (v < -32768) -32768 else v
    while (block + 7 <= dataEnd) {
      val pred = math.min(bytes(block) & 0xFF, coeffs.length - 1)
      val (c1, c2) = coeffs(pred)
      var delta = bb.getShort(block + 1).toInt
      var samp1 = bb.getShort(block + 3).toInt
      var samp2 = bb.getShort(block + 5).toInt
      out += samp2.toShort // header samples ARE samples 0 and 1
      out += samp1.toShort
      var produced = 2
      var p = block + 7
      val blockEnd = math.min(block + blockAlign, dataEnd)
      while (p < blockEnd && produced < samplesPerBlock) {
        val b = bytes(p) & 0xFF
        var half = 0
        while (half < 2 && produced < samplesPerBlock) {
          val code = if (half == 0) (b >> 4) & 0xF else b & 0xF // HIGH first
          val signed = if (code >= 8) code - 16 else code
          // C-style truncating division per the MS spec — NOT >> 8, which
          // floors and diverges on negative predictor sums.
          val predict = (samp1 * c1 + samp2 * c2) / 256
          val sample = clamp16(predict + signed * delta)
          samp2 = samp1; samp1 = sample
          // iDelta is a 16-bit field in the block header; clamp the
          // adaptation to its range — an adversarial/corrupt nibble
          // stream could otherwise grow delta without bound and silently
          // wrap the Int products above.
          delta = math.min(32767, math.max(16, (MsAdaptTable(code) * delta) / 256))
          out += sample.toShort
          produced += 1
          half += 1
        }
        p += 1
      }
      block += blockAlign
    }
    if (out.isEmpty) None else Some(out.toArray)
  }

  /** Feature vector over MS-ADPCM-decoded samples. */
  def decodeMsAdpcmWavFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodeMsAdpcmSamples(bytes).map(audioFeatures(_, bytes))

  /** One decoded GIF frame as stored in the stream: position + size within
    * the logical screen, the disposal method its GraphicControlExtension
    * declared (0 none/unspecified, 1 keep, 2 restore-to-background,
    * 3 restore-to-previous), and the palette-resolved ARGB raster
    * (row-major; transparent-index pixels carry alpha 0 but keep their
    * palette RGB components, matching IndexColorModel.getRGB). */
  private[multimodal] final case class GifFrame(
      index: Int, left: Int, top: Int, w: Int, h: Int,
      disposal: Int, argb: Array[Int])

  /** Hand-rolled GIF 87a/89a container walk + LZW + interlace decode — no
    * ImageIO. The JDK's GIFImageReader silently drops the last interlace
    * pass-4 row for images 2–4 px tall (verified against a hand-decoded
    * LZW stream of the same bytes), so the engine decodes the public wire
    * format itself, the same discipline as the BMP-RLE8 and QOI codecs
    * (GIF89a spec, Appendix E/F for LZW and the 8/8/4/2 interlace walk).
    *
    * Invokes `cb` for each of the first `maxFrames` frames (frames past
    * the cap are walked but not LZW-decoded, so counting a long GIF stays
    * O(bytes)); returns the TOTAL frame count, or None for corrupt or
    * truncated bytes — never throws on its own reads (a throwing `cb` is
    * the CALLER's to catch). A missing 0x3B trailer at clean EOF is
    * tolerated when ≥1 frame decoded (real-world encoders omit it);
    * truncation inside a block, an unknown block byte, or EOI before the
    * raster completes stay strict — tolerating those would silently
    * fabricate pixel data, which the bit-exact stat gates forbid. */
  private[multimodal] def gifWalk(bytes: Array[Byte], maxFrames: Int)
                                 (cb: GifFrame => Unit): Option[Int] = {
    if (bytes.length < 14 ||
        !(bytes.startsWith("GIF87a".getBytes) || bytes.startsWith("GIF89a".getBytes)))
      return None
    def u16(o: Int): Int = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    def readPalette(off: Int, n: Int): Array[Int] =
      Array.tabulate(n) { j =>
        ((bytes(off + 3 * j) & 0xFF) << 16) |
          ((bytes(off + 3 * j + 1) & 0xFF) << 8) | (bytes(off + 3 * j + 2) & 0xFF)
      }
    try {
      val screenFlags = bytes(10) & 0xFF
      var pos = 13
      var global: Array[Int] = null
      if ((screenFlags & 0x80) != 0) {
        val n = 2 << (screenFlags & 7)
        if (pos + 3 * n > bytes.length) return None
        global = readPalette(pos, n)
        pos += 3 * n
      }
      var nFrames = 0
      // The GraphicControlExtension applies to the NEXT image descriptor.
      var pendingDisposal = 0
      var pendingTransIdx = -1
      // Loop bound instead of while(true): real-world encoders sometimes
      // omit the 0x3B trailer, so clean EOF after ≥1 complete frame is
      // accepted below (truncation INSIDE a block still fails — the
      // per-block bounds checks and the AIOOBE catch handle those).
      while (pos < bytes.length) {
        val b = bytes(pos) & 0xFF
        if (b == 0x3B) {                                   // trailer
          return if (nFrames > 0) Some(nFrames) else None
        } else if (b == 0x21) {                            // extension
          val label = bytes(pos + 1) & 0xFF
          pos += 2
          var firstSub = true
          var sz = bytes(pos) & 0xFF
          while (sz != 0) {
            if (label == 0xF9 && firstSub && sz >= 4) {
              val packed = bytes(pos + 1) & 0xFF
              pendingDisposal = (packed >> 2) & 7
              pendingTransIdx = if ((packed & 1) != 0) bytes(pos + 4) & 0xFF else -1
            }
            firstSub = false
            pos += 1 + sz
            sz = bytes(pos) & 0xFF
          }
          pos += 1
        } else if (b == 0x2C) {                            // image descriptor
          val left = u16(pos + 1); val top = u16(pos + 3)
          val w = u16(pos + 5); val h = u16(pos + 7)
          val f = bytes(pos + 9) & 0xFF
          pos += 10
          var pal = global
          if ((f & 0x80) != 0) {
            val n = 2 << (f & 7)
            if (pos + 3 * n > bytes.length) return None
            pal = readPalette(pos, n)
            pos += 3 * n
          }
          if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
          val minCode = bytes(pos) & 0xFF
          pos += 1
          // Concatenate the LZW sub-block payload (past-the-cap frames
          // still walk the sub-blocks — counting must not decode).
          val decodeThis = nFrames < maxFrames
          val buf = if (decodeThis) new java.io.ByteArrayOutputStream() else null
          var sz = bytes(pos) & 0xFF
          while (sz != 0) {
            if (pos + 1 + sz > bytes.length) return None
            if (decodeThis) buf.write(bytes, pos + 1, sz)
            pos += 1 + sz
            sz = bytes(pos) & 0xFF
          }
          pos += 1
          if (decodeThis) {
            if (pal == null) return None
            val idx = gifLzw(buf.toByteArray, minCode, w * h) match {
              case Some(a) => a
              case None    => return None
            }
            val argb = new Array[Int](w * h)
            val interlaced = (f & 0x40) != 0
            // Interlace row order: pass starts 0/4/2/1, steps 8/8/4/2.
            val rowOf: Array[Int] =
              if (!interlaced) Array.tabulate(h)(identity)
              else {
                val order = new Array[Int](h)
                var k = 0
                val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
                var p = 0
                while (p < 4) {
                  var y = starts(p)
                  while (y < h) { order(k) = y; k += 1; y += steps(p) }
                  p += 1
                }
                order
              }
            var r = 0
            while (r < h) {
              val y = rowOf(r)
              var x = 0
              while (x < w) {
                val j = idx(r * w + x)
                val rgbv = if (j < pal.length) pal(j) else 0
                val a = if (j == pendingTransIdx) 0 else 0xFF
                argb(y * w + x) = (a << 24) | rgbv
                x += 1
              }
              r += 1
            }
            cb(GifFrame(nFrames, left, top, w, h, pendingDisposal, argb))
          }
          nFrames += 1
          pendingDisposal = 0
          pendingTransIdx = -1
        } else return None                                 // unknown block
      }
      // Missing-trailer tolerance: EOF on a block boundary after at least
      // one fully decoded frame counts as a complete file.
      if (nFrames > 0) Some(nFrames) else None
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** GIF-variant LZW decode (LSB-first codes, growing code size 3..12
    * bits, clear/EOI codes, the KwKwK case): `expected` = w·h indices out.
    * None when the stream is truncated, references an unassigned code, or
    * hits EOI before the raster is complete. */
  private def gifLzw(data: Array[Byte], minCodeSize: Int,
                     expected: Int): Option[Array[Int]] = {
    if (minCodeSize < 2 || minCodeSize > 11) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var i = 0
    while (i < clear) { prefix(i) = -1; suffix(i) = i; i += 1 }
    val out = new Array[Int](expected)
    val stack = new Array[Int](4096)
    var outPos = 0
    var codeSize = minCodeSize + 1
    var next = eoi + 1
    var bitPos = 0
    val totalBits = data.length * 8
    var prev = -1
    while (outPos < expected) {
      if (bitPos + codeSize > totalBits) return None
      var code = 0
      var b = 0
      while (b < codeSize) {
        val bp = bitPos + b
        if (((data(bp >> 3) >> (bp & 7)) & 1) != 0) code |= 1 << b
        b += 1
      }
      bitPos += codeSize
      if (code == clear) {
        codeSize = minCodeSize + 1; next = eoi + 1; prev = -1
      } else if (code == eoi) {
        return None                    // EOI before the raster is complete
      } else {
        if (code > next || (code == next && prev < 0)) return None
        var sp = 0
        var cur = if (code == next) prev else code
        while (cur >= 0) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
        val first = stack(sp - 1)
        while (sp > 0 && outPos < expected) {
          sp -= 1; out(outPos) = stack(sp); outPos += 1
        }
        if (code == next && outPos < expected) {   // KwKwK: str(prev)+first
          out(outPos) = first; outPos += 1
        }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    Some(out)
  }

  /** The imageStats math over a flat ARGB raster (alpha ignored — a
    * transparent GIF pixel still carries its palette RGB, matching what
    * IndexColorModel.getRGB reports): IDENTICAL accumulation order to
    * [[imageStats]]'s scanline loop so the two paths fold bit-for-bit. */
  private[multimodal] def rgbStats(argb: Array[Int], w: Int, h: Int): Array[Float] = {
    var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
    var p = 0
    val n = w * h
    while (p < n) {
      val v = argb(p)
      val r = (v >> 16) & 0xFF; val g = (v >> 8) & 0xFF; val bl = v & 0xFF
      val l = 0.299 * r + 0.587 * g + 0.114 * bl
      sr += r; sg += g; sb += bl; sl += l; sl2 += l * l
      p += 1
    }
    val nn = n.toDouble
    val meanL = sl / nn
    val varL = math.max(sl2 / nn - meanL * meanL, 0.0)
    Array[Float](
      (sr / nn / 255.0).toFloat, (sg / nn / 255.0).toFloat, (sb / nn / 255.0).toFloat,
      (meanL / 255.0).toFloat, (math.sqrt(varL) / 255.0).toFloat,
      math.log1p(w.toDouble).toFloat, math.log1p(h.toDouble).toFloat,
      (w.toDouble / h).toFloat)
  }

  /** REAL frame decode for GIF (hand-rolled LZW + interlace via
    * [[gifWalk]] — no ImageIO): the feature vector is the componentwise
    * MEAN of per-frame image stats over at most the first 16 frames (the
    * same bounded-work rule as AVI), with the TOTAL frame count in slot 5
    * — the decode analogue of frameSample's sampling cap. Frames are
    * read as stored; delta-optimized GIFs with sub-rectangle frames are
    * the COMPOSITING path's business ([[frameSample]]) and are rejected
    * here (any frame smaller than the logical screen → None → stub
    * fallback) so the per-frame stats are never computed over a
    * misleading sub-rect. None for undecodable bytes. */
  def decodeGifFeatures(bytes: Array[Byte]): Option[Array[Float]] = {
    val meta = parseMeta(bytes)
    if (meta.format != "gif") return None
    val frames = Vector.newBuilder[GifFrame]
    gifWalk(bytes, 16)(frames += _).flatMap { total =>
      val sampled = frames.result()
      if (sampled.isEmpty ||
          sampled.exists(fr => fr.left != 0 || fr.top != 0 ||
            fr.w < meta.width || fr.h < meta.height)) None
      else {
        val acc = new Array[Float](8)
        sampled.foreach { fr =>
          val s = rgbStats(fr.argb, fr.w, fr.h)
          var i = 0
          while (i < 5) { acc(i) += s(i) / sampled.size; i += 1 }
        }
        acc(5) = total.toFloat
        // Slot 6 is log1p(height) — the shared image-codec convention
        // (width stays recoverable via the aspect slot).
        acc(6) = math.log1p(meta.height.toDouble).toFloat
        acc(7) = if (meta.height > 0) (meta.width.toDouble / meta.height).toFloat else 0f
        Some(acc)
      }
    }
  }

  /** Decode dispatch through the Codecs registry: the codec claiming the
    * sniffed format decodes; registry miss OR decode failure (corrupt
    * container) falls back to the deterministic stub. Built-ins cover
    * PNG/JPEG (javax.imageio) and PCM16/IMA-ADPCM WAV; register a
    * MediaCodec to claim more formats without touching the Spark
    * plumbing. */
  def decodeFeatures(format: String, bytes: Array[Byte]): Array[Float] =
    Codecs.forFormat(format).flatMap(_.decode(bytes)).getOrElse(decodeStub(bytes))

  /** STUB decode (fallback for undecodable/unknown formats): a
    * deterministic 8-dim "feature vector" derived from byte content
    * (FNV-1a rolling). The signature — bytes in, fixed-width float vector
    * out — is the production contract. */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var h = 0x811C9DC5
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFF)) * 0x01000193
      out(i % 8) += (h & 0xFFFF) / 65535.0f
      i += 1
    }
    out
  }

  final case class MediaRow(media_id: Long, kind: String, content: Array[Byte])
  final case class MediaFeatures(media_id: Long, format: String, width: Int,
                                 height: Int, channels: Int, sampleRateHz: Int,
                                 durationMs: Long, features: Array[Float])

  /** The batch decode operator: per-partition map (no shuffle), one
    * metadata parse + one decode per blob (real for PNG/JPEG/PCM-WAV,
    * stub fallback elsewhere). This is the Scala analogue of a pandas
    * mapInPandas decode stage — batch-at-a-time over Arrow-ish
    * partitions. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { row =>
      val meta = parseMeta(row.content)
      MediaFeatures(row.media_id, meta.format, meta.width, meta.height,
        meta.channels, meta.sampleRateHz, meta.durationMs,
        decodeFeatures(meta.format, row.content))
    })
  }

  /** REAL image resize for PNG/JPEG: decode via javax.imageio, scale the
    * longest side down to `maxDim` (bilinear, aspect-preserving; images
    * already within bounds pass through untouched), re-encode as PNG.
    * Per-partition map — no shuffle; non-image blobs pass through. */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val fmt = parseMeta(r.content).format
      if (fmt != "png" && fmt != "jpeg") r
      else {
        val img = try {
          Option(MemImageIO.read(r.content))
        } catch { case _: Exception => None }
        img match {
          case Some(im) if math.max(im.getWidth, im.getHeight) > maxDim =>
            val scale = maxDim.toDouble / math.max(im.getWidth, im.getHeight)
            val nw = math.max((im.getWidth * scale).round.toInt, 1)
            val nh = math.max((im.getHeight * scale).round.toInt, 1)
            // ARGB output: drawing transparency onto an RGB canvas would
            // composite it to black and drop the alpha channel; PNG
            // round-trips alpha losslessly.
            val out = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(im, 0, 0, nw, nh, null)
            g.dispose()
            r.copy(content = MemImageIO.write(out, "png"))
          case _ => r
        }
      }
    })
  }

  /** Resize contract (stub, retained for non-decodable media): tags the
    * metadata so the plumbing is testable end-to-end. */
  def resizeStub(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r => r.copy(kind = s"${r.kind}@resized:$maxDim")))
  }

  /** REAL frame sampling for multi-frame GIF (hand-rolled [[gifWalk]]
    * decode): frames are COMPOSITED onto a logical-screen-sized canvas in
    * sequence (honoring per-frame offsets, transparency, and disposal
    * methods — optimized GIFs store delta sub-rectangles, so a stored
    * frame alone is not the logical frame), and every k-th composited frame is
    * re-encoded as PNG — one row in, n/k rows out, each a standalone image
    * ready for the PNG feature path. Uncompressed AVI goes through the
    * same contract via decodeAviFrames (no compositing — AVI DIB frames
    * are whole). Other blobs fall back to the byte-window stub so the
    * fan-out contract holds for every format. Per-partition flatMap, no
    * shuffle. */
  def frameSample(media: Dataset[MediaRow], everyK: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val fmt = parseMeta(r.content).format
      if (fmt == "avi") {
        decodeAviFrames(r.content) match {
          case Some(frames) =>
            (0 until frames.size by everyK).map { f =>
              MediaRow(r.media_id * 1000 + f, s"${r.kind}#frame$f",
                MemImageIO.write(frames(f), "png"))
            }
          case None => frameWindows(r, everyK)
        }
      }
      else if (fmt != "gif") frameWindows(r, everyK)
      else {
        val screen = parseMeta(r.content)
        // The logical-screen dims come from UNTRUSTED header bytes (u16le
        // up to 65535 each → a ~17 GB ARGB canvas, and OutOfMemoryError
        // is an Error that would escape the fallback and kill the task).
        // Clamp to a sane cap; real frames larger than the cap don't exist
        // in practice (the cap still allows 1 GiB canvases), and a lying
        // header degrades to a cropped composite instead of an executor
        // OOM. gifWalk itself bounds any single frame to 64 Mpx.
        val MaxCanvasDim = 16384
        var canvas: java.awt.image.BufferedImage = null
        var saved: java.awt.image.BufferedImage = null
        val out = scala.collection.mutable.ArrayBuffer[MediaRow]()
        // Streaming composite via the hand-rolled decoder ([[gifWalk]] —
        // the JDK GIF reader corrupts small interlaced rasters): one frame
        // in memory at a time, canvas mutated per the GIF89a disposal
        // rules, every k-th composite re-encoded as PNG.
        // The compositing callback does BufferedImage/Graphics2D/ImageIO
        // work INSIDE gifWalk's frame loop; gifWalk itself only swallows
        // its own out-of-bounds reads, so a callback failure (e.g. an
        // ImageIO encoder error on adversarial dims) must be caught HERE
        // to preserve the never-kill-the-task contract of this path.
        val walked = try gifWalk(r.content, Int.MaxValue) { fr =>
          if (canvas == null) {
            val lw = math.min(MaxCanvasDim,
              if (screen.width > 0) screen.width else fr.w)
            val lh = math.min(MaxCanvasDim,
              if (screen.height > 0) screen.height else fr.h)
            canvas = new java.awt.image.BufferedImage(lw, lh,
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
          }
          if (fr.disposal == 3) {                 // restore-to-previous
            saved = new java.awt.image.BufferedImage(
              canvas.getWidth, canvas.getHeight,
              java.awt.image.BufferedImage.TYPE_INT_ARGB)
            val gs = saved.createGraphics(); gs.drawImage(canvas, 0, 0, null); gs.dispose()
          }
          // SRC_OVER with per-pixel alpha: transparent GIF pixels leave
          // the canvas untouched (the delta-frame compositing contract).
          val fim = new java.awt.image.BufferedImage(fr.w, fr.h,
            java.awt.image.BufferedImage.TYPE_INT_ARGB)
          fim.setRGB(0, 0, fr.w, fr.h, fr.argb, 0, fr.w)
          val g = canvas.createGraphics()
          g.drawImage(fim, fr.left, fr.top, null)
          g.dispose()
          if (fr.index % everyK == 0) {
            out += MediaRow(r.media_id * 1000 + fr.index,
              s"${r.kind}#frame${fr.index}", MemImageIO.write(canvas, "png"))
          }
          fr.disposal match {
            case 2 =>                             // restore-to-background
              val gc = canvas.createGraphics()
              gc.setComposite(java.awt.AlphaComposite.Clear)
              gc.fillRect(fr.left, fr.top, fr.w, fr.h)
              gc.dispose()
            case 3 if saved != null =>
              canvas = saved
            case _ => ()
          }
        } catch { case scala.util.control.NonFatal(_) => None }
        if (walked.isDefined) out.toSeq else frameWindows(r, everyK)
      }
    }
  }

  private def frameWindows(r: MediaRow, everyK: Int): Seq[MediaRow] = {
    val frames = math.max(r.content.length / 1024, 1)
    (0 until frames by everyK).map { f =>
      val from = f * 1024
      val until = math.min(from + 1024, r.content.length)
      MediaRow(r.media_id * 1000 + f, s"${r.kind}#frame$f",
        java.util.Arrays.copyOfRange(r.content, from, until))
    }
  }

  /** Frame-sample contract (stub): every k-th fixed 1 KiB byte window of
    * a blob — the fan-out shape (one row in, n rows out) without a codec. */
  def frameSampleStub(media: Dataset[MediaRow], everyK: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.flatMap(r => frameWindows(r, everyK))
  }

  /** Metadata as columns over a binary DataFrame — usable from SQL. */
  def withMeta(df: DataFrame, binaryCol: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val parse = udf((b: Array[Byte]) => parseMeta(b))
    df.withColumn("meta", parse(col(binaryCol)))
  }
}
