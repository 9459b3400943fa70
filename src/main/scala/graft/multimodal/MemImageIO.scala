package graft.multimodal

import java.awt.image.{BufferedImage, RenderedImage}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{ImageOutputStream, MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** javax.imageio over in-memory streams. `ImageIO.read(InputStream)` and
  * `ImageIO.write(image, format, OutputStream)` wrap their stream in a
  * `FileCacheImage*Stream` by default, which creates, writes and deletes one
  * temp file under `java.io.tmpdir` per image. These wrap it in a
  * `MemoryCacheImage*Stream` instead; the codecs see the same bytes, so
  * encodes and decodes are unchanged. The JVM-global
  * `ImageIO.setUseCache(false)` would do the same for every other ImageIO
  * user in the process, so it is not used.
  */
object MemImageIO {

  /** `ImageIO.read` of `bytes`: the decoded image, or null when no reader
    * recognizes them. */
  def read(bytes: Array[Byte]): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val im = ImageIO.read(in) // closes `in` once a reader took it
    if (im == null) in.close()
    im
  }

  /** `ImageIO.write` of `im` in `format`: the encoded bytes (empty when no
    * writer handles the format). */
  def write(im: RenderedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = output(bos)
    try ImageIO.write(im, format, out) finally out.close()
    bos.toByteArray
  }

  /** An image output stream onto `os`, for writers driven directly (e.g. a
    * GIF frame sequence). Closing it flushes to `os` and leaves `os` open. */
  def output(os: OutputStream): ImageOutputStream = new MemoryCacheImageOutputStream(os)
}
