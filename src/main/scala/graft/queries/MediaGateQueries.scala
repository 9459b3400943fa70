package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{MemImageIO, Multimodal}

/** Per-round oracle gates for the multimodal decode surface (q204/q207) —
  * the q195 discipline applied to the last operator family that was
  * spec-verified only: before this pack, a decode regression surfaced in
  * `sbt test` but in NO tier refresh.
  *
  * The gates are SELF-SYNTHESIZING round trips anchored in the corpus (no
  * committed binary fixtures, no oracle-side media support): a bounded,
  * deterministic slice of the `orders` table (o_orderkey <= KeyCap — dense
  * keys, so the SAME ~2000 logical rows at every tier) is expanded
  * EXECUTOR-SIDE into real media containers whose pixel/sample values are
  * pure integer arithmetic in (key, position) — PNG via ImageIO and QOI
  * hand-encoded per qoiformat.org for images; PCM16 and G.711 μ-law WAV
  * for audio. The blobs then flow through the REAL decode operator
  * ([[Multimodal.extractFeatures]]: container sniff → codec registry →
  * pixel/sample decode → feature assembly), and the oracle is DuckDB
  * computing the same statistics FROM THE GENERATOR FORMULA directly. Any
  * fault anywhere in the path — a mis-sniffed header, a wrong palette/chunk
  * walk, a clipped sample, a drifted feature formula — hash-fails.
  *
  * Exactness: every gated feature is bit-deterministic on both engines.
  * Integer pixel/sample sums are exact in doubles; derived means divide in
  * the same operation order; the luma fold is gated through the SAME
  * index-ordered list_reduce the vector oracles use (sequential double
  * adds mirror the decoder's scanline loop exactly); |sample|/32768 is a
  * dyadic rational so audio sums are exact regardless of order.
  *
  * Scale shape: generation and decode are a per-partition map over a
  * KeyCap-bounded slice — no shuffle, no driver collect, no fixture I/O;
  * at 100 TB the same plan decodes a petabyte of blobs because nothing in
  * it is corpus-sized but the scan.
  */
object MediaGateQueries extends QueryPack {

  /** Key bound of the media slice (the q195 KeyCap discipline): orderkeys
    * are dense from 0 at every tier, so this selects the SAME ~2000
    * logical rows at sf0.001 and XL2 alike. */
  private val KeyCap = 2000L

  private def writeBE(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xFF); out.write((v >>> 16) & 0xFF)
    out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
  }

  /** Deterministic image container for key `k`: w×h pixels with
    * r/g/b = (k·a + i·b) mod 256 in row-major index i; even keys encode as
    * PNG (ImageIO — exercises the ImageIOCodec decode path), odd keys as
    * QOI (hand-encoded RGB chunk stream — exercises the hand-rolled
    * QoiCodec decoder). Both containers are lossless, so decoded pixels
    * ARE the formula values. */
  private[queries] def imageBytes(k: Long): Array[Byte] = {
    val w = 16 + (k % 8).toInt
    val h = 12 + (k % 5).toInt
    val px = Array.tabulate(w * h) { i =>
      val r = ((k * 7 + i * 13L) % 256).toInt
      val g = ((k * 11 + i * 17L) % 256).toInt
      val b = ((k * 3 + i * 19L) % 256).toInt
      (r << 16) | (g << 8) | b
    }
    if (k % 2 == 0) {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      im.setRGB(0, 0, w, h, px, 0, w)
      MemImageIO.write(im, "png")
    } else {
      val out = new java.io.ByteArrayOutputStream(14 + 4 * w * h + 8)
      out.write("qoif".getBytes("US-ASCII"))
      writeBE(out, w); writeBE(out, h)
      out.write(3); out.write(0) // channels, colorspace
      px.foreach { p => // QOI_OP_RGB per pixel — valid, uncompressed QOI
        out.write(0xFE)
        out.write((p >> 16) & 0xFF); out.write((p >> 8) & 0xFF); out.write(p & 0xFF)
      }
      (0 until 7).foreach(_ => out.write(0)); out.write(1) // end marker
      out.toByteArray
    }
  }

  /** Deterministic WAV container for key `k`, 200 + (k mod 64) samples,
    * mono 8 kHz: even keys PCM16 with sample = ((k·31 + j·77) mod 4001) −
    * 2000 (exercises decodeWavFeatures), odd keys G.711 μ-law with
    * companded byte = (k·13 + j·29) mod 256 (exercises the CCITT expansion
    * in decodeG711Samples — the oracle replicates the expansion formula in
    * integer SQL). */
  private[queries] def audioBytes(k: Long): Array[Byte] = {
    val n = 200 + (k % 64).toInt
    val pcm = k % 2 == 0
    val dataSize = if (pcm) n * 2 else n
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(if (pcm) 1 else 7)                    // format tag
    bb.putShort(1).putInt(8000)                       // mono, 8 kHz
    bb.putInt(if (pcm) 16000 else 8000)               // byte rate
    bb.putShort(if (pcm) 2 else 1)                    // block align
    bb.putShort(if (pcm) 16 else 8)                   // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var j = 0
    while (j < n) {
      if (pcm) bb.putShort((((k * 31 + j * 77L) % 4001) - 2000).toShort)
      else bb.put(((k * 13 + j * 29L) % 256).toByte)
      j += 1
    }
    bb.array()
  }

  /** Frame counts for the multi-frame containers (AVI/GIF), keyed k mod 6.
    * Every value of min(count, 16) is a POWER OF TWO so the decoder's
    * float mean over sampled frames (acc += stat/size) divides exactly —
    * the same bit-determinism rule as q204's folds; 18 exercises the
    * 16-frame sampling cap. */
  private val FrameCounts = Array(1, 2, 4, 8, 16, 18)

  /** Deterministic BMP container for key `k`: even keys BI_RGB 24-bpp
    * bottom-up with the SAME pixel formula as q204's PNG (r/g/b =
    * (k·a + i·b) mod 256 in logical row-major i); odd keys 8-bpp BI_RLE8
    * with a formula palette (pal[j] = (k·a + j·b) mod 256) and index
    * formula idx = (k·5 + pos·7) mod 256 in BITMAP space (bottom-up pos),
    * encoded through ALL FOUR RLE escape families — a delta skip at the
    * start of the last bitmap row (those 2 pixels stay palette 0), an
    * absolute-mode literal chunk per row, per-pixel encoded runs, EOL per
    * row, and a final EOB. Lossless either way, so decoded pixels ARE the
    * formula. */
  private[queries] def bmpBytes(k: Long): Array[Byte] = {
    val w = 16 + (k % 8).toInt
    val h = 12 + (k % 5).toInt
    if (k % 2 == 0) {
      val stride = ((w * 3 + 3) / 4) * 4
      val dataSize = stride * h
      val bb = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      var yb = 0
      while (yb < h) {
        val yl = h - 1 - yb // bottom-up: bitmap row yb holds logical row yl
        var x = 0
        while (x < w) {
          val i = yl * w + x
          bb.put(((k * 3 + i * 19L) % 256).toByte)
          bb.put(((k * 11 + i * 17L) % 256).toByte)
          bb.put(((k * 7 + i * 13L) % 256).toByte)
          x += 1
        }
        var p = w * 3
        while (p < stride) { bb.put(0.toByte); p += 1 }
        yb += 1
      }
      bb.array()
    } else {
      val rle = new java.io.ByteArrayOutputStream()
      def idx(yb: Int, x: Int): Int = ((k * 5 + (yb * w + x) * 7L) % 256).toInt
      var yb = 0
      while (yb < h) {
        var x = 0
        if (yb == h - 1) { // delta escape: skip 2 right (pixels stay pal[0])
          rle.write(0); rle.write(2); rle.write(2); rle.write(0)
          x = 2
        }
        rle.write(0); rle.write(4) // absolute mode: 4 literals (even → no pad)
        (0 until 4).foreach { j => rle.write(idx(yb, x + j)) }
        x += 4
        while (x < w) { rle.write(1); rle.write(idx(yb, x)); x += 1 } // runs
        if (yb < h - 1) { rle.write(0); rle.write(0) } // EOL
        else { rle.write(0); rle.write(1) }            // EOB
        yb += 1
      }
      val data = rle.toByteArray
      val dataOff = 14 + 40 + 1024
      val bb = java.nio.ByteBuffer.allocate(dataOff + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(dataOff + data.length)
        .putInt(0).putInt(dataOff)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(8)
        .putInt(1).putInt(data.length).putInt(2835).putInt(2835)
        .putInt(0).putInt(0) // clrUsed 0 → full 256-entry palette
      var j = 0
      while (j < 256) { // BGRA palette quads
        bb.put(((k * 4 + j * 11L) % 256).toByte)
        bb.put(((k * 6 + j * 5L) % 256).toByte)
        bb.put(((k * 2 + j * 3L) % 256).toByte)
        bb.put(0.toByte)
        j += 1
      }
      bb.put(data)
      bb.array()
    }
  }

  /** Deterministic ADPCM WAV container for key `k`, n = 200 + (k mod 64)
    * samples, mono 8 kHz, ONE block: even keys IMA-ADPCM (tag 0x11 —
    * header predictor/stepIndex from k, nibble bytes (k·13 + p·29) mod
    * 256), odd keys MS-ADPCM (tag 2 — standard 7-pair coefficient table
    * in the fmt extension, header predictorIdx/delta/samp1/samp2 from k,
    * same nibble byte formula). Both predictors are pure integer
    * state machines, so the oracle replays them exactly with a recursive
    * CTE. */
  private[queries] def adpcmBytes(k: Long): Array[Byte] = {
    val n = 200 + (k % 64).toInt
    val ima = k % 2 == 0
    val blockAlign = if (ima) 4 + n / 2 else 7 + (n - 1) / 2
    val fmtLen = if (ima) 20 else 50
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + fmtLen + 8 + blockAlign)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + fmtLen + 8 + blockAlign)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
    bb.putShort(if (ima) 0x11 else 2).putShort(1).putInt(8000).putInt(4000)
    bb.putShort(blockAlign.toShort).putShort(4)
    if (ima) {
      bb.putShort(2).putShort(n.toShort) // cbSize, wSamplesPerBlock
    } else {
      bb.putShort(32).putShort(n.toShort).putShort(7) // cbSize, spb, nCoef
      Seq((256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
        (392, -232)).foreach { case (c1, c2) =>
        bb.putShort(c1.toShort).putShort(c2.toShort)
      }
    }
    bb.put("data".getBytes("US-ASCII")).putInt(blockAlign)
    val nibbleBytes = if (ima) blockAlign - 4 else blockAlign - 7
    if (ima) {
      bb.putShort((((k * 31) % 4001) - 2000).toShort) // predictor = sample 0
      bb.put((k % 89).toByte).put(0.toByte)           // step index, reserved
    } else {
      bb.put((k % 7).toByte)                          // coefficient pair
      bb.putShort((16 + (k * 7) % 1000).toShort)      // initial delta
      bb.putShort((((k * 31) % 4001) - 2000).toShort) // samp1 (= sample 1)
      bb.putShort((((k * 17) % 4001) - 2000).toShort) // samp2 (= sample 0)
    }
    var p = 0
    while (p < nibbleBytes) { bb.put(((k * 13 + p * 29L) % 256).toByte); p += 1 }
    bb.array()
  }

  /** Deterministic uncompressed-AVI container for key `k`: nFrames (1–18
    * by k mod 6) BI_RGB 24-bpp bottom-up DIB frames in '00db' movi chunks,
    * frame f pixel formula r/g/b = (k·a + f·b + i·c) mod 256 in logical
    * row-major i; full hdrl (avih + strl/strh 'vids' + strf
    * BITMAPINFOHEADER) so duration comes from the real µsPerFrame ×
    * totalFrames walk. 25 fps → durationMs = 40·nFrames. */
  private[queries] def aviBytes(k: Long): Array[Byte] = {
    val w = 16 + (k % 8).toInt
    val h = 12 + (k % 5).toInt
    val nF = FrameCounts((k % 6).toInt)
    val stride = ((w * 3 + 3) / 4) * 4
    val frameSize = stride * h
    val moviSz = 4 + nF * (8 + frameSize)
    val strlSz = 4 + (8 + 56) + (8 + 40)
    val hdrlSz = 4 + (8 + 56) + (8 + strlSz)
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSz)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSz)
    bb.put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(hdrlSz)
    bb.put("hdrl".getBytes("US-ASCII"))
    bb.put("avih".getBytes("US-ASCII")).putInt(56)
    bb.putInt(40000).putInt(0).putInt(0).putInt(0) // µs/frame, maxBps, pad, flags
    bb.putInt(nF).putInt(0).putInt(1).putInt(0)    // totalFrames, init, streams, buf
    bb.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes("US-ASCII")).putInt(strlSz)
    bb.put("strl".getBytes("US-ASCII"))
    bb.put("strh".getBytes("US-ASCII")).putInt(56)
    bb.put("vids".getBytes("US-ASCII")).put("DIB ".getBytes("US-ASCII"))
    bb.putInt(0).putInt(0).putInt(0)               // flags, prio/lang, initFrames
    bb.putInt(1).putInt(25).putInt(0).putInt(nF)   // scale, rate, start, length
    bb.putInt(0).putInt(0).putInt(0).putLong(0L)   // buf, quality, sampleSize, rcFrame
    bb.put("strf".getBytes("US-ASCII")).putInt(40)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    bb.putInt(0).putInt(frameSize).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviSz)
    bb.put("movi".getBytes("US-ASCII"))
    var f = 0
    while (f < nF) {
      bb.put("00db".getBytes("US-ASCII")).putInt(frameSize)
      var yb = 0
      while (yb < h) {
        val yl = h - 1 - yb
        var x = 0
        while (x < w) {
          val i = yl * w + x
          bb.put(((k * 3 + f * 7 + i * 19L) % 256).toByte)
          bb.put(((k * 11 + f * 5 + i * 17L) % 256).toByte)
          bb.put(((k * 7 + f * 11 + i * 13L) % 256).toByte)
          x += 1
        }
        var p = w * 3
        while (p < stride) { bb.put(0.toByte); p += 1 }
        yb += 1
      }
      f += 1
    }
    bb.array()
  }

  /** Deterministic multi-frame GIF for key `k`: nFrames (1–18) full-size
    * frames over one formula palette (pal[j] = (k·a + j·b) mod 256),
    * frame f pixel index (k·5 + f·3 + i·7) mod 256, written through the
    * JDK's ImageIO GIF writer from TYPE_BYTE_INDEXED rasters — indexed
    * input keeps the encode LOSSLESS (palette and indices preserved), so
    * the LZW round trip decodes to the formula exactly. */
  private[queries] def gifBytes(k: Long): Array[Byte] = {
    val w = 16 + (k % 8).toInt
    val h = 12 + (k % 5).toInt
    val nF = FrameCounts((k % 6).toInt)
    val rp = Array.tabulate(256)(j => ((k * 2 + j * 3) % 256).toByte)
    val gp = Array.tabulate(256)(j => ((k * 6 + j * 5) % 256).toByte)
    val bp = Array.tabulate(256)(j => ((k * 4 + j * 11) % 256).toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, rp, gp, bp)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = MemImageIO.output(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nF) {
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = im.getRaster
        var i = 0
        while (i < w * h) {
          raster.setSample(i % w, i / w, 0, ((k * 5 + f * 3 + i * 7L) % 256).toInt)
          i += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(im, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Deterministic JPEG container for key `k` — the ONE lossy codec in
    * the registry, so the q204 bit-exact pattern cannot apply. A FLAT
    * color field (r,g,b) = (k·7, k·11, k·3) mod 256 encoded via ImageIO's
    * JPEG writer at default quality: flat color keeps the lossy error
    * bounded by DC-quantization + YCbCr rounding (≲ 2/255 per channel —
    * constant blocks have no AC energy and edge padding replicates the
    * same value), so the gate pins the deterministic ENVELOPE — header
    * geometry exact (the SOFn walk), decode-path dims/aspect slots exact
    * to float, channel means within ±0.02, luma std under 0.02 — as
    * booleans whose oracle is literal TRUE (the q58 bound-as-boolean
    * discipline). */
  private[queries] def jpegBytes(k: Long): Array[Byte] = {
    val w = 16 + (k % 8).toInt
    val h = 12 + (k % 5).toInt
    val rgb = (((k * 7) % 256).toInt << 16) |
      (((k * 11) % 256).toInt << 8) | ((k * 3) % 256).toInt
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = im.createGraphics()
    g.setColor(new java.awt.Color(rgb))
    g.fillRect(0, 0, w, h)
    g.dispose()
    MemImageIO.write(im, "jpg")
  }

  /** The bounded key slice as a typed media dataset — executor-side
    * generation inside the map, no driver round trip. */
  private def mediaOf(s: SparkSession, d: String, kind: String,
                      gen: Long => Array[Byte]) = {
    import s.implicits._
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= KeyCap)
      .select(col("o_orderkey"))
      .as[Long]
      .map(k => Multimodal.MediaRow(k, kind, gen(k)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IMAGE decode end-to-end under the per-round hash discipline:
    // formula pixels → PNG/QOI containers → sniff + registry decode
    // (ImageIOCodec / QoiCodec) → 8-dim feature vector; the gate projects
    // the bit-deterministic components (exact channel means, the
    // index-ordered luma fold, header geometry). Oracle: the same stats
    // from the generator formula in DuckDB.
    "q204_media_decode_image" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "image", imageBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"),
          col("features")(0).as("mean_r"),
          col("features")(1).as("mean_g"),
          col("features")(2).as("mean_b"),
          col("features")(3).as("mean_l"),
          col("features")(4).as("std_l"),
          col("features")(7).as("aspect"))
        .orderBy(col("o_orderkey"))
    }),

    // AUDIO decode end-to-end: formula samples → PCM16 / μ-law WAV →
    // sniff + registry decode (Pcm16WavCodec's tag dispatch, including
    // the CCITT μ-law expansion) → feature vector. Every gated stat is
    // exact: |sample|/32768 is dyadic, so rms/meanAbs/peak sums are
    // order-independent; zero-crossings are integer counts; duration is
    // the container's integer byte-rate division.
    "q207_media_decode_audio" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "audio", audioBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("channels"), col("sampleRateHz").as("sample_rate"),
          col("durationMs").as("duration_ms"),
          col("features")(0).as("rms"),
          col("features")(1).as("mean_abs"),
          col("features")(2).as("zcr"),
          col("features")(3).as("peak"))
        .orderBy(col("o_orderkey"))
    }),

    // BMP decode end-to-end (q204's discipline on the hand-rolled BmpCodec):
    // even keys drive the BI_RGB 24-bpp bottom-up path, odd keys the
    // BI_RLE8 COMPRESSED path through all four escape families (delta,
    // absolute, runs, EOL/EOB) plus the palette walk. Oracle recomputes
    // the stats from the pixel/palette formulas (the delta-skipped pixels
    // resolve to palette 0).
    "q208_media_decode_bmp" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "image", bmpBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"),
          col("features")(0).as("mean_r"),
          col("features")(1).as("mean_g"),
          col("features")(2).as("mean_b"),
          col("features")(3).as("mean_l"),
          col("features")(4).as("std_l"),
          col("features")(7).as("aspect"))
        .orderBy(col("o_orderkey"))
    }),

    // ADPCM decode end-to-end: even keys IMA-ADPCM (step-table state
    // machine), odd keys MS-ADPCM (coefficient predictor + delta
    // adaptation). The oracle replays both integer predictors exactly with
    // a recursive CTE — every clamp, table lookup, and the MS truncating
    // division are on the hook sample by sample.
    "q211_media_decode_adpcm" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "audio", adpcmBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("channels"), col("sampleRateHz").as("sample_rate"),
          col("durationMs").as("duration_ms"),
          col("features")(0).as("rms"),
          col("features")(1).as("mean_abs"),
          col("features")(2).as("zcr"),
          col("features")(3).as("peak"))
        .orderBy(col("o_orderkey"))
    }),

    // VIDEO decode end-to-end (uncompressed AVI): the RIFF hdrl/strl/movi
    // walk, per-frame bottom-up DIB decode, the 16-frame sampling cap
    // (keys with 18 frames), and the avih duration arithmetic. The gated
    // channel means are the decoder's float mean over sampled frames —
    // min(nFrames,16) is always a power of two, so the per-frame division
    // is exact and the oracle replays the float fold bit-for-bit.
    "q212_media_decode_video" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "video", aviBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"),
          col("durationMs").as("duration_ms"),
          col("features")(0).as("mean_r"),
          col("features")(1).as("mean_g"),
          col("features")(2).as("mean_b"))
        .orderBy(col("o_orderkey"))
    }),

    // GIF decode end-to-end (the JDK LZW reader behind GifCodec): palette
    // indirection, multi-frame reads, the 16-frame sampling cap, and the
    // total-frame count (slot 5). Lossless by construction — indexed
    // rasters in, so the LZW round trip returns the formula exactly.
    "q213_media_decode_gif" -> ((s, d) => {
      Multimodal.extractFeatures(mediaOf(s, d, "image", gifBytes)).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"),
          col("features")(5).cast("int").as("n_frames"),
          col("features")(0).as("mean_r"),
          col("features")(1).as("mean_g"),
          col("features")(2).as("mean_b"))
        .orderBy(col("o_orderkey"))
    }),

    // JPEG decode ENVELOPE (see jpegBytes): the lossy codec gated on what
    // IS deterministic. Since r19 the decode is the hand-rolled
    // multimodal.Jpeg (no ImageIO), and the bands are the MEASURED
    // flat-field envelope (JpegSpec sweeps every color the generator can
    // emit): ±0.014 mean (3.5 LSB — the ENCODER's chroma-DC quantization
    // ×1.77 conversion gain; our decoder sits ±1 LSB from the JDK's on
    // the same bytes) and std < 0.005, from round-18's ±0.02/0.02.
    // width/height come from parseMeta's SOFn marker walk (exact);
    // dims_ok/aspect_ok prove the REAL pixel decode ran (the stub's
    // byte-hash slots could never reproduce log1p(w)/log1p(h)/aspect to
    // 1e-6). All bounds ship as BOOLEANS so the oracle pins literals.
    "q214_media_decode_jpeg_envelope" -> ((s, d) => {
      val f = Multimodal.extractFeatures(mediaOf(s, d, "image", jpegBytes)).toDF()
      val k = col("media_id")
      def band(slot: Int, expected: org.apache.spark.sql.Column) =
        abs(col("features")(slot).cast("double") - expected) < 0.014
      f.select(k.as("o_orderkey"), col("format"),
          col("width"), col("height"),
          band(0, (k * 7 % 256).cast("double") / 255.0).as("mean_r_ok"),
          band(1, (k * 11 % 256).cast("double") / 255.0).as("mean_g_ok"),
          band(2, (k * 3 % 256).cast("double") / 255.0).as("mean_b_ok"),
          (col("features")(4).cast("double") < 0.005).as("std_l_ok"),
          (abs(col("features")(5).cast("double") - log1p(col("width").cast("double"))) < lit(1e-6) &&
            abs(col("features")(6).cast("double") - log1p(col("height").cast("double"))) < lit(1e-6))
            .as("dims_ok"),
          (abs(col("features")(7).cast("double") -
            col("width").cast("double") / col("height").cast("double")) < lit(1e-6))
            .as("aspect_ok"))
        .orderBy(col("o_orderkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    // Channel means are exact-integer sums divided in the decoder's
    // operation order; the luma mean/std go through the SAME index-ordered
    // list_reduce fold as the decoder's scanline loop (seedless reduce:
    // Scala's 0.0 + l0 == l0 in IEEE). Luma coefficients are CAST to
    // DOUBLE — bare 0.299 is DECIMAL in DuckDB and would change every
    // product.
    "q204_media_decode_image" -> s"""
      WITH keys AS (
        SELECT o_orderkey AS k,
               16 + CAST(o_orderkey % 8 AS INT) AS w,
               12 + CAST(o_orderkey % 5 AS INT) AS h
        FROM orders WHERE o_orderkey <= $KeyCap),
      px AS (
        SELECT k, w, h,
               list_transform(generate_series(0, w*h - 1), i -> (k*7 + i*13) % 256) AS rs,
               list_transform(generate_series(0, w*h - 1), i -> (k*11 + i*17) % 256) AS gs,
               list_transform(generate_series(0, w*h - 1), i -> (k*3 + i*19) % 256) AS bs
        FROM keys),
      lum AS (
        SELECT k, w, h, rs, gs, bs,
               list_transform(generate_series(1, w*h), i ->
                 CAST(0.299 AS DOUBLE) * rs[i] + CAST(0.587 AS DOUBLE) * gs[i]
                   + CAST(0.114 AS DOUBLE) * bs[i]) AS ls
        FROM px),
      st AS (
        SELECT k, w, h,
               CAST(list_sum(rs) AS DOUBLE) AS sr,
               CAST(list_sum(gs) AS DOUBLE) AS sg,
               CAST(list_sum(bs) AS DOUBLE) AS sb,
               list_reduce(ls, (x, y) -> x + y) AS sl,
               list_reduce(list_transform(ls, l -> l * l), (x, y) -> x + y) AS sl2
        FROM lum)
      SELECT k AS o_orderkey,
             CASE WHEN k % 2 = 0 THEN 'png' ELSE 'qoi' END AS format,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(sr / (w*h) / 255.0 AS FLOAT) AS mean_r,
             CAST(sg / (w*h) / 255.0 AS FLOAT) AS mean_g,
             CAST(sb / (w*h) / 255.0 AS FLOAT) AS mean_b,
             CAST(sl / (w*h) / 255.0 AS FLOAT) AS mean_l,
             CAST(SQRT(GREATEST(sl2 / (w*h) - (sl / (w*h)) * (sl / (w*h)), 0.0)) / 255.0 AS FLOAT) AS std_l,
             CAST(CAST(w AS DOUBLE) / h AS FLOAT) AS aspect
      FROM st
      ORDER BY o_orderkey""",

    // μ-law expansion replicated in integer SQL (CCITT reference: with
    // u = 255 − byte, mag = ((u%16)·8 + 132) · 2^((u//16)%8) − 132, sign
    // from u ≥ 128); duration is dataSize·1000 // byteRate = n // 8 for
    // both containers.
    "q207_media_decode_audio" -> s"""
      WITH keys AS (
        SELECT o_orderkey AS k, 200 + CAST(o_orderkey % 64 AS INT) AS n
        FROM orders WHERE o_orderkey <= $KeyCap),
      raw AS (
        -- fixed-bound series + filter: DuckDB's FROM-clause generate_series
        -- cannot take a lateral column bound (max n is 200 + 63).
        SELECT k, n, j, 255 - (k*13 + j*29) % 256 AS u
        FROM keys, generate_series(0, 262) t(j)
        WHERE j < n),
      samp AS (
        SELECT k, n, j,
               CASE WHEN k % 2 = 0 THEN (k*31 + j*77) % 4001 - 2000
                    ELSE (CASE WHEN u >= 128 THEN -1 ELSE 1 END)
                         * (((u % 16) * 8 + 132) * (1 << CAST((u // 16) % 8 AS INT)) - 132)
               END AS v
        FROM raw),
      sz AS (
        SELECT k, n, j, v,
               CASE WHEN j > 0 AND ((v >= 0) <> (lag(v) OVER (PARTITION BY k ORDER BY j) >= 0))
                    THEN 1 ELSE 0 END AS zc
        FROM samp),
      agg AS (
        SELECT k, n,
               SUM(CAST(ABS(v) AS DOUBLE) / 32768.0) AS sa,
               SUM((CAST(ABS(v) AS DOUBLE) / 32768.0) * (CAST(ABS(v) AS DOUBLE) / 32768.0)) AS s2,
               MAX(CAST(ABS(v) AS DOUBLE) / 32768.0) AS peak,
               SUM(zc) AS nzc
        FROM sz GROUP BY k, n)
      SELECT k AS o_orderkey, 'wav' AS format,
             CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
             CAST(n // 8 AS BIGINT) AS duration_ms,
             CAST(SQRT(s2 / n) AS FLOAT) AS rms,
             CAST(sa / n AS FLOAT) AS mean_abs,
             CAST(CAST(nzc AS DOUBLE) / n AS FLOAT) AS zcr,
             CAST(peak AS FLOAT) AS peak
      FROM agg
      ORDER BY o_orderkey""",

    // BMP: even keys reuse q204's pixel formula; odd keys compose the
    // palette formula over the RLE index formula in BITMAP space (logical
    // pixel i maps to bitmap position (h-1-i//w)·w + i%w), with the two
    // delta-skipped pixels (logical i < 2) at palette index 0.
    "q208_media_decode_bmp" -> s"""
      WITH keys AS (
        SELECT o_orderkey AS k,
               16 + CAST(o_orderkey % 8 AS INT) AS w,
               12 + CAST(o_orderkey % 5 AS INT) AS h
        FROM orders WHERE o_orderkey <= $KeyCap),
      px AS (
        SELECT k, w, h,
               CASE WHEN k % 2 = 0 THEN
                 list_transform(generate_series(0, w*h - 1), i -> (k*7 + i*13) % 256)
               ELSE
                 list_transform(generate_series(0, w*h - 1), i ->
                   (k*2 + 3 * (CASE WHEN i < 2 THEN 0
                     ELSE (k*5 + ((h - 1 - i // w) * w + i % w) * 7) % 256 END)) % 256)
               END AS rs,
               CASE WHEN k % 2 = 0 THEN
                 list_transform(generate_series(0, w*h - 1), i -> (k*11 + i*17) % 256)
               ELSE
                 list_transform(generate_series(0, w*h - 1), i ->
                   (k*6 + 5 * (CASE WHEN i < 2 THEN 0
                     ELSE (k*5 + ((h - 1 - i // w) * w + i % w) * 7) % 256 END)) % 256)
               END AS gs,
               CASE WHEN k % 2 = 0 THEN
                 list_transform(generate_series(0, w*h - 1), i -> (k*3 + i*19) % 256)
               ELSE
                 list_transform(generate_series(0, w*h - 1), i ->
                   (k*4 + 11 * (CASE WHEN i < 2 THEN 0
                     ELSE (k*5 + ((h - 1 - i // w) * w + i % w) * 7) % 256 END)) % 256)
               END AS bs
        FROM keys),
      lum AS (
        SELECT k, w, h, rs, gs, bs,
               list_transform(generate_series(1, w*h), i ->
                 CAST(0.299 AS DOUBLE) * rs[i] + CAST(0.587 AS DOUBLE) * gs[i]
                   + CAST(0.114 AS DOUBLE) * bs[i]) AS ls
        FROM px),
      st AS (
        SELECT k, w, h,
               CAST(list_sum(rs) AS DOUBLE) AS sr,
               CAST(list_sum(gs) AS DOUBLE) AS sg,
               CAST(list_sum(bs) AS DOUBLE) AS sb,
               list_reduce(ls, (x, y) -> x + y) AS sl,
               list_reduce(list_transform(ls, l -> l * l), (x, y) -> x + y) AS sl2
        FROM lum)
      SELECT k AS o_orderkey, 'bmp' AS format,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(sr / (w*h) / 255.0 AS FLOAT) AS mean_r,
             CAST(sg / (w*h) / 255.0 AS FLOAT) AS mean_g,
             CAST(sb / (w*h) / 255.0 AS FLOAT) AS mean_b,
             CAST(sl / (w*h) / 255.0 AS FLOAT) AS mean_l,
             CAST(SQRT(GREATEST(sl2 / (w*h) - (sl / (w*h)) * (sl / (w*h)), 0.0)) / 255.0 AS FLOAT) AS std_l,
             CAST(CAST(w AS DOUBLE) / h AS FLOAT) AS aspect
      FROM st
      ORDER BY o_orderkey""",

    // ADPCM: both predictors replayed exactly. IMA (even keys): state
    // (pred, stepIdx) over the 89-entry step table with the shift-add
    // diff; sample t consumes nibble t-1 (LOW half first). MS (odd keys):
    // state (samp1, samp2, delta) with predict = trunc((s1·c1 + s2·c2)/256)
    // (C division — TRUNC, not floor) and delta = max(16, adapt·delta//256);
    // sample t consumes nibble t-2 (HIGH half first); samples 0/1 are the
    // block-header samp2/samp1. Duration = blockAlign·1000 // byteRate.
    "q211_media_decode_adpcm" -> s"""
      WITH RECURSIVE keys AS (
        SELECT o_orderkey AS k, 200 + CAST(o_orderkey % 64 AS INT) AS n
        FROM orders WHERE o_orderkey <= $KeyCap),
      ima AS (
        SELECT k, n, 0 AS t,
               CAST((k*31) % 4001 - 2000 AS INT) AS pred,
               CAST(k % 89 AS INT) AS idx
        FROM keys WHERE k % 2 = 0
        UNION ALL
        SELECT k, n, t + 1,
               CAST(LEAST(32767, GREATEST(-32768,
                 CASE WHEN code // 8 = 1 THEN pred - diff ELSE pred + diff END)) AS INT),
               CAST(LEAST(88, GREATEST(0,
                 idx + ([-1,-1,-1,-1,2,4,6,8])[(code % 8) + 1])) AS INT)
        FROM (
          SELECT k, n, t, pred, idx, code,
                 step // 8
                 + CASE WHEN code % 2 = 1 THEN step // 4 ELSE 0 END
                 + CASE WHEN (code // 2) % 2 = 1 THEN step // 2 ELSE 0 END
                 + CASE WHEN (code // 4) % 2 = 1 THEN step ELSE 0 END AS diff
          FROM (
            SELECT k, n, t, pred, idx,
                   CASE WHEN t % 2 = 0 THEN ((k*13 + (t // 2)*29) % 256) % 16
                        ELSE ((k*13 + (t // 2)*29) % 256) // 16 END AS code,
                   ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,
                     45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,
                     209,230,253,279,307,337,371,408,449,494,544,598,658,724,
                     796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,
                     2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,
                     7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,
                     18500,20350,22385,24623,27086,29794,32767])[idx + 1] AS step
            FROM ima WHERE t < n - 1) a) b),
      ms AS (
        SELECT k, n, 1 AS t,
               CAST((k*31) % 4001 - 2000 AS INT) AS s1,
               CAST((k*17) % 4001 - 2000 AS INT) AS s2,
               CAST(16 + (k*7) % 1000 AS INT) AS delta
        FROM keys WHERE k % 2 = 1
        UNION ALL
        SELECT k, n, t + 1,
               CAST(LEAST(32767, GREATEST(-32768, predict + signed * delta)) AS INT),
               s1,
               CAST(LEAST(32767, GREATEST(16,
                 (([230,230,230,230,307,409,512,614,768,614,512,409,307,230,230,230])[code + 1]
                  * delta) // 256)) AS INT)
        FROM (
          SELECT k, n, t, s1, s2, delta, code,
                 CASE WHEN code >= 8 THEN code - 16 ELSE code END AS signed,
                 CAST(TRUNC((s1 * ([256,512,0,192,240,460,392])[CAST(k % 7 AS INT) + 1]
                           + s2 * ([0,-256,0,64,0,-208,-232])[CAST(k % 7 AS INT) + 1]) / 256.0) AS INT) AS predict
          FROM (
            SELECT k, n, t, s1, s2, delta,
                   CASE WHEN (t - 1) % 2 = 0 THEN ((k*13 + ((t - 1) // 2)*29) % 256) // 16
                        ELSE ((k*13 + ((t - 1) // 2)*29) % 256) % 16 END AS code
            FROM ms WHERE t < n - 1) a) b),
      samples AS (
        SELECT k, n, t, pred AS v FROM ima
        UNION ALL
        SELECT k, n, t, s1 AS v FROM ms
        UNION ALL
        SELECT k, n, 0 AS t, CAST((k*17) % 4001 - 2000 AS INT) AS v
        FROM keys WHERE k % 2 = 1),
      sz AS (
        SELECT k, n, t, v,
               CASE WHEN t > 0 AND ((v >= 0) <> (lag(v) OVER (PARTITION BY k ORDER BY t) >= 0))
                    THEN 1 ELSE 0 END AS zc
        FROM samples),
      agg AS (
        SELECT k, n,
               SUM((CAST(ABS(v) AS DOUBLE) / 32768.0) * (CAST(ABS(v) AS DOUBLE) / 32768.0)) AS s2,
               SUM(CAST(ABS(v) AS DOUBLE) / 32768.0) AS sa,
               MAX(CAST(ABS(v) AS DOUBLE) / 32768.0) AS peak,
               SUM(zc) AS nzc
        FROM sz GROUP BY k, n)
      SELECT k AS o_orderkey, 'wav' AS format,
             CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
             CAST((CASE WHEN k % 2 = 0 THEN 4 + n // 2 ELSE 7 + (n - 1) // 2 END)
                  * 1000 // 4000 AS BIGINT) AS duration_ms,
             CAST(SQRT(s2 / n) AS FLOAT) AS rms,
             CAST(sa / n AS FLOAT) AS mean_abs,
             CAST(CAST(nzc AS DOUBLE) / n AS FLOAT) AS zcr,
             CAST(peak AS FLOAT) AS peak
      FROM agg
      ORDER BY o_orderkey""",

    // AVI: per-frame channel means are exact-integer sums divided in the
    // decoder's operation order, cast to FLOAT, divided by the (power of
    // two) sample count, then folded with explicit float adds in frame
    // order — the decoder's acc += stat/size loop bit-for-bit.
    "q212_media_decode_video" -> s"""
      WITH keys0 AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey <= $KeyCap),
      keys AS (
        SELECT o_orderkey AS k,
               16 + CAST(o_orderkey % 8 AS INT) AS w,
               12 + CAST(o_orderkey % 5 AS INT) AS h,
               ([1,2,4,8,16,18])[CAST(o_orderkey % 6 AS INT) + 1] AS nf
        FROM keys0),
      fr AS (
        SELECT k, w, h, nf,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*7 + f*11 + i*13) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tr,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*11 + f*5 + i*17) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tg,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*3 + f*7 + i*19) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tb
        FROM keys)
      SELECT k AS o_orderkey, 'avi' AS format,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(40 * nf AS BIGINT) AS duration_ms,
             CAST(list_reduce(tr, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_r,
             CAST(list_reduce(tg, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_g,
             CAST(list_reduce(tb, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_b
      FROM fr
      ORDER BY o_orderkey""",

    // GIF: the same float fold as AVI with the palette formula composed
    // over the frame index formula; n_frames is the decoder's slot-5
    // total count (pre-cap), distinguishing the 18-frame keys from the
    // 16 their fold samples.
    "q213_media_decode_gif" -> s"""
      WITH keys0 AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey <= $KeyCap),
      keys AS (
        SELECT o_orderkey AS k,
               16 + CAST(o_orderkey % 8 AS INT) AS w,
               12 + CAST(o_orderkey % 5 AS INT) AS h,
               ([1,2,4,8,16,18])[CAST(o_orderkey % 6 AS INT) + 1] AS nf
        FROM keys0),
      fr AS (
        SELECT k, w, h, nf,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*2 + 3 * ((k*5 + f*3 + i*7) % 256)) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tr,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*6 + 5 * ((k*5 + f*3 + i*7) % 256)) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tg,
               list_transform(generate_series(0, LEAST(nf, 16) - 1), f ->
                 CAST(CAST(CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                   i -> (k*4 + 11 * ((k*5 + f*3 + i*7) % 256)) % 256)) AS DOUBLE) / (w*h) / 255.0 AS FLOAT)
                   / LEAST(nf, 16) AS FLOAT)) AS tb
        FROM keys)
      SELECT k AS o_orderkey, 'gif' AS format,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(nf AS INT) AS n_frames,
             CAST(list_reduce(tr, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_r,
             CAST(list_reduce(tg, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_g,
             CAST(list_reduce(tb, (x, y) -> CAST(x + y AS FLOAT)) AS FLOAT) AS mean_b
      FROM fr
      ORDER BY o_orderkey""",

    // The JPEG envelope's oracle is pure literals: geometry from the key
    // formulas, every bound TRUE — the engine side is what computes the
    // bands over REAL decoded pixels (a failed decode, a stub fallback, a
    // drifted mean, or a broken SOFn walk all flip a column and
    // hash-fail).
    "q214_media_decode_jpeg_envelope" -> s"""
      SELECT o_orderkey,
             'jpeg' AS format,
             CAST(16 + o_orderkey % 8 AS INT) AS width,
             CAST(12 + o_orderkey % 5 AS INT) AS height,
             TRUE AS mean_r_ok, TRUE AS mean_g_ok, TRUE AS mean_b_ok,
             TRUE AS std_l_ok, TRUE AS dims_ok, TRUE AS aspect_ok
      FROM orders WHERE o_orderkey <= $KeyCap
      ORDER BY o_orderkey"""
  )
}
