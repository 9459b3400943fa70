package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Paths, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit
import javax.imageio.ImageIO

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** MemImageIO against the stream-wrapping ImageIO calls it replaced: the
  * same encoded bytes, the same decoded pixels and features, and no temp
  * file per image. */
class MemImageIOSpec extends AnyFunSuite {

  private def oldWrite(im: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  private def oldRead(b: Array[Byte]): BufferedImage = ImageIO.read(new ByteArrayInputStream(b))

  /** Seeded images of every raster kind the engine encodes, each paired
    * with the formats that accept it. */
  private def images(seed: Long, n: Int): Seq[(BufferedImage, Seq[String])] = {
    val rnd = new Random(seed)
    Seq.fill(n) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val (kind, fmts) = rnd.nextInt(4) match {
        case 0 => (BufferedImage.TYPE_INT_RGB, Seq("png", "jpg", "gif"))
        case 1 => (BufferedImage.TYPE_INT_ARGB, Seq("png", "gif"))
        case 2 => (BufferedImage.TYPE_BYTE_INDEXED, Seq("png", "gif"))
        case _ => (BufferedImage.TYPE_BYTE_GRAY, Seq("png", "jpg"))
      }
      val im = new BufferedImage(w, h, kind)
      // Flat runs as well as noise, so the encoders' filters and run
      // lengths both get exercised.
      val flat = rnd.nextInt()
      im.setRGB(0, 0, w, h, Array.fill(w * h)(if (rnd.nextInt(3) == 0) flat else rnd.nextInt()), 0, w)
      (im, fmts)
    }
  }

  test("encoded bytes match the OutputStream form for PNG, JPEG and GIF") {
    var encodes = 0
    for ((im, fmts) <- images(204, 540); fmt <- fmts) {
      val want = oldWrite(im, fmt)
      assert(want.nonEmpty, s"$fmt writer missing")
      assert(java.util.Arrays.equals(MemImageIO.write(im, fmt), want), s"$fmt ${im.getType}")
      encodes += 1
    }
    assert(encodes > 1000)
  }

  test("decoded pixels and features match the InputStream form") {
    for ((im, fmts) <- images(1204, 200); fmt <- fmts) {
      val bytes = oldWrite(im, fmt)
      val want = oldRead(bytes)
      val got = MemImageIO.read(bytes)
      assert(got.getWidth == want.getWidth && got.getHeight == want.getHeight)
      val (w, h) = (want.getWidth, want.getHeight)
      assert(got.getRGB(0, 0, w, h, null, 0, w).sameElements(want.getRGB(0, 0, w, h, null, 0, w)), fmt)
      assert(Multimodal.decodeImageFeatures(bytes).get.sameElements(Multimodal.imageStats(want)), fmt)
    }
    val junk = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    assert(oldRead(junk) == null && MemImageIO.read(junk) == null)
    assert(Multimodal.decodeImageFeatures(junk).isEmpty)
  }

  /** Names of the `imageio*.tmp` files created in `java.io.tmpdir` while
    * `body` runs (ImageIO deletes them on close, so they are watched for,
    * not listed afterwards). */
  private def imageioTemps(body: => Unit): Seq[String] = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"))
    val ws = dir.getFileSystem.newWatchService()
    try {
      dir.register(ws, StandardWatchEventKinds.ENTRY_CREATE)
      body
      val names = Seq.newBuilder[String]
      var key = ws.poll(1, TimeUnit.SECONDS)
      while (key != null) {
        key.pollEvents().asScala.foreach(e => names += e.context.toString)
        key.reset()
        key = ws.poll(200, TimeUnit.MILLISECONDS)
      }
      names.result().filter(n => n.startsWith("imageio") && n.endsWith(".tmp"))
    } finally ws.close()
  }

  test("no imageio temp file is created per image") {
    val (im, _) = images(7, 1).head
    val png = oldWrite(im, "png")
    // The watch sees the stream-wrapping form's temp files ...
    assert(imageioTemps { oldWrite(im, "png"); oldRead(png) }.nonEmpty)
    // ... and none from MemImageIO, for encodes, decodes and a GIF sequence.
    val made = imageioTemps {
      MemImageIO.write(im, "png")
      MemImageIO.read(png)
      val out = MemImageIO.output(new ByteArrayOutputStream())
      val gif = ImageIO.getImageWritersByFormatName("gif").next()
      try {
        gif.setOutput(out)
        gif.write(im)
      } finally { gif.dispose(); out.close() }
      Multimodal.decodeImageFeatures(png)
    }
    assert(made.isEmpty, made)
  }
}
