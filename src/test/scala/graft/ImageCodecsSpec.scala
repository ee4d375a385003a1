package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ImageCodecs
import graft.pipeline.ImageCodecs.DecodedImage

/** Real image codecs: encode→decode round trips across formats and
  * the layout quirks (BMP row padding + bottom-up order + BGR, PPM
  * comments, P6 single-whitespace contract), plus error paths. */
class ImageCodecsSpec extends AnyFunSuite {

  private def img(w: Int, h: Int, seed: Int = 1): DecodedImage = {
    val rgb = new Array[Byte](w * h * 3)
    var i = 0
    while (i < rgb.length) { rgb(i) = ((seed * 31 + i * 7) % 256).toByte; i += 1 }
    DecodedImage(w, h, rgb)
  }

  test("P6 round trip at several sizes") {
    for ((w, h) <- Seq((1, 1), (8, 6), (16, 12), (13, 7))) {
      val src = img(w, h, w * 100 + h)
      val dec = ImageCodecs.decode(ImageCodecs.encodePpm(src))
      assert(dec.width == w && dec.height == h)
      assert(dec.rgb.toSeq == src.rgb.toSeq, s"$w x $h")
    }
  }

  test("P3 (ASCII) round trip") {
    for ((w, h) <- Seq((1, 1), (9, 6), (12, 11))) {
      val src = img(w, h, 7)
      val dec = ImageCodecs.decode(ImageCodecs.encodePpmAscii(src))
      assert(dec.width == w && dec.height == h && dec.rgb.toSeq == src.rgb.toSeq)
    }
  }

  test("BMP round trip covers every row-padding residue") {
    // w*3 mod 4 cycles through 0..3 as w varies: padding logic gets
    // every branch, and the decoder must undo bottom-up + BGR
    for (w <- 5 to 12; h <- Seq(3, 4)) {
      val src = img(w, h, w)
      val dec = ImageCodecs.decode(ImageCodecs.encodeBmp(src))
      assert(dec.width == w && dec.height == h && dec.rgb.toSeq == src.rgb.toSeq,
        s"$w x $h")
    }
  }

  test("PPM header comments and extra whitespace are skipped") {
    val src = img(4, 3)
    val payload = ("P6\n# a comment line\n  4 # trailing\n\t3\n# more\n255\n")
      .getBytes("US-ASCII") ++ src.rgb
    val dec = ImageCodecs.decode(payload)
    assert(dec.width == 4 && dec.height == 3 && dec.rgb.toSeq == src.rgb.toSeq)
  }

  test("top-down BMP (negative biHeight) decodes to the same image") {
    val src = img(6, 4, 3)
    val bottomUp = ImageCodecs.encodeBmp(src)
    // rewrite biHeight to -h and reorder the rows top-down in place
    val stride = ((6 * 3 + 3) / 4) * 4
    val topDown = bottomUp.clone()
    val negH = -4
    topDown(22) = (negH & 0xff).toByte; topDown(23) = ((negH >> 8) & 0xff).toByte
    topDown(24) = ((negH >> 16) & 0xff).toByte; topDown(25) = ((negH >> 24) & 0xff).toByte
    for (y <- 0 until 4; i <- 0 until stride)
      topDown(54 + y * stride + i) = bottomUp(54 + (3 - y) * stride + i)
    val dec = ImageCodecs.decode(topDown)
    assert(dec.width == 6 && dec.height == 4 && dec.rgb.toSeq == src.rgb.toSeq)
  }

  test("PNG round trip at several sizes") {
    for ((w, h) <- Seq((1, 1), (8, 6), (16, 12), (13, 7))) {
      val src = img(w, h, w * 10 + h)
      val dec = ImageCodecs.decode(ImageCodecs.encodePng(src))
      assert(dec.width == w && dec.height == h && dec.rgb.toSeq == src.rgb.toSeq,
        s"$w x $h")
    }
  }

  test("PNG cross-validates against the JDK ImageIO reference codec") {
    import java.awt.image.BufferedImage
    // our encoder -> ImageIO reader: pixels identical
    val src = img(11, 9, 3)
    val viaImageIo = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageCodecs.encodePng(src)))
    for (y <- 0 until 9; x <- 0 until 11) {
      val p = viaImageIo.getRGB(x, y)
      val i = (y * 11 + x) * 3
      assert(((p >> 16) & 0xff) == (src.rgb(i) & 0xff), s"R $x,$y")
      assert(((p >> 8) & 0xff) == (src.rgb(i + 1) & 0xff), s"G $x,$y")
      assert((p & 0xff) == (src.rgb(i + 2) & 0xff), s"B $x,$y")
    }
    // ImageIO writer (adaptive filtering: exercises Sub/Up/Avg/Paeth
    // defiltering for real) -> our decoder: pixels identical
    val bi = new BufferedImage(31, 23, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 23; x <- 0 until 31)
      bi.setRGB(x, y, ((x * 53 + y) % 256 << 16) | ((y * 31 + x) % 256 << 8) | ((x * y + 7) % 256))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", out)
    val dec = ImageCodecs.decode(out.toByteArray)
    assert(dec.width == 31 && dec.height == 23)
    for (y <- 0 until 23; x <- 0 until 31) {
      val i = (y * 31 + x) * 3
      assert((dec.rgb(i) & 0xff) == (x * 53 + y) % 256, s"R $x,$y")
      assert((dec.rgb(i + 1) & 0xff) == (y * 31 + x) % 256, s"G $x,$y")
      assert((dec.rgb(i + 2) & 0xff) == (x * y + 7) % 256, s"B $x,$y")
    }
    // RGBA (color type 6): alpha drops, RGB preserved
    val argb = new BufferedImage(6, 5, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 5; x <- 0 until 6)
      argb.setRGB(x, y, (((x + y) * 29 % 256) << 24) | ((x * 40 % 256) << 16) |
        ((y * 50 % 256) << 8) | ((x + y * 6) % 256))
    val out2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(argb, "png", out2)
    val dec2 = ImageCodecs.decode(out2.toByteArray)
    assert(dec2.width == 6 && dec2.height == 5)
    for (y <- 0 until 5; x <- 0 until 6) {
      val i = (y * 6 + x) * 3
      assert((dec2.rgb(i) & 0xff) == x * 40 % 256, s"R $x,$y")
      assert((dec2.rgb(i + 1) & 0xff) == y * 50 % 256, s"G $x,$y")
      assert((dec2.rgb(i + 2) & 0xff) == (x + y * 6) % 256, s"B $x,$y")
    }
  }

  test("PNG corruption fails loudly: flipped CRC, truncated IDAT") {
    val good = ImageCodecs.encodePng(img(10, 8, 2))
    val badCrc = good.clone()
    badCrc(good.length - 6) = (badCrc(good.length - 6) ^ 0x7f).toByte // IEND crc... use IDAT region
    // flip a byte inside the IDAT payload (after IHDR = 8+25 bytes in)
    val badData = good.clone()
    badData(8 + 25 + 12) = (badData(8 + 25 + 12) ^ 0x55).toByte
    val e = intercept[IllegalArgumentException](ImageCodecs.decode(badData))
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("corrupt"), e.getMessage)
    intercept[IllegalArgumentException] {
      ImageCodecs.decode(java.util.Arrays.copyOfRange(good, 0, good.length - 14))
    }
  }

  test("GIF round trip at several sizes (palette-bounded images)") {
    for ((w, h) <- Seq((1, 1), (8, 6), (16, 12), (13, 7))) {
      val src = img(w, h, w + h) // formula pixels: <= w*h <= 192 distinct colors
      val dec = ImageCodecs.decode(ImageCodecs.encodeGif(src))
      assert(dec.width == w && dec.height == h && dec.rgb.toSeq == src.rgb.toSeq,
        s"$w x $h")
    }
  }

  test("GIF cross-validates against the JDK ImageIO codec, incl. interlace") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // indexed palette keeps the ImageIO GIF writer from quantizing
    val n = 64
    val reds = Array.tabulate(n)(i => ((i * 37) % 256).toByte)
    val greens = Array.tabulate(n)(i => ((i * 11 + 5) % 256).toByte)
    val blues = Array.tabulate(n)(i => ((i * 73 + 9) % 256).toByte)
    val icm = new IndexColorModel(8, n, reds, greens, blues)
    val bi = new BufferedImage(23, 17, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until 17; x <- 0 until 23) {
      val idx = (x * 5 + y * 3) % n
      bi.getRaster.setSample(x, y, 0, idx)
    }
    // plain write: real variable-width LZW from the reference encoder
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "gif", out)
    val dec = ImageCodecs.decode(out.toByteArray)
    assert(dec.width == 23 && dec.height == 17)
    for (y <- 0 until 17; x <- 0 until 23) {
      val idx = (x * 5 + y * 3) % n
      val i = (y * 23 + x) * 3
      assert((dec.rgb(i) & 0xff) == (reds(idx) & 0xff), s"R $x,$y")
      assert((dec.rgb(i + 1) & 0xff) == (greens(idx) & 0xff), s"G $x,$y")
      assert((dec.rgb(i + 2) & 0xff) == (blues(idx) & 0xff), s"B $x,$y")
    }
    // interlaced write: exercises the 4-pass row reorder
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // interlace on
    val out2 = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out2)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close(); writer.dispose()
    val dec2 = ImageCodecs.decode(out2.toByteArray)
    assert(dec2.rgb.toSeq == dec.rgb.toSeq, "interlaced decode differs")
    // our GIF read back by ImageIO: pixel-exact
    val src = img(9, 8, 4)
    val viaImageIo = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageCodecs.encodeGif(src)))
    for (y <- 0 until 8; x <- 0 until 9) {
      val p = viaImageIo.getRGB(x, y)
      val i = (y * 9 + x) * 3
      assert(((p >> 16) & 0xff) == (src.rgb(i) & 0xff) &&
        ((p >> 8) & 0xff) == (src.rgb(i + 1) & 0xff) &&
        (p & 0xff) == (src.rgb(i + 2) & 0xff), s"$x,$y")
    }
  }

  test("GIF corruption fails loudly") {
    val good = ImageCodecs.encodeGif(img(10, 8, 2))
    intercept[IllegalArgumentException] {
      ImageCodecs.decode("GIF89a".getBytes ++ Array[Byte](1, 2)) // truncated
    }
    intercept[IllegalArgumentException] {
      ImageCodecs.decode(java.util.Arrays.copyOfRange(good, 0, good.length / 2))
    }
    val badMagic = good.clone(); badMagic(4) = '2'
    intercept[IllegalArgumentException](ImageCodecs.decode(badMagic))
  }

  /** A PNG with the given IHDR and one IDAT of `pixels` (deflated raw
    * bytes), every chunk with a valid CRC. */
  private def forgedPng(w: Int, h: Int, colorType: Int, pixels: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit = for (s <- Seq(24, 16, 8, 0)) out.write((v >>> s) & 0xff)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      be32(data.length); out.write(typ.getBytes("US-ASCII")); out.write(data)
      be32(crc.getValue.toInt)
    }
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    val z = new java.util.zip.Deflater()
    z.setInput(pixels); z.finish()
    val buf = new Array[Byte](1024)
    chunk("IDAT", java.util.Arrays.copyOf(buf, z.deflate(buf)))
    z.end()
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("forged PNG headers fail with the typed error before allocating") {
    // RGBA rows of 1 + 4w bytes: w*h*3 fits an Int but h*(1+4w) does not
    val overflow = forgedPng(30000, 20000, 6, new Array[Byte](16))
    val e1 = intercept[IllegalArgumentException](ImageCodecs.decode(overflow))
    assert(e1.getMessage.contains("exceed the payload"), e1.getMessage)
    // 12 MB of pixels claimed, 16 bytes deflated: beyond deflate's 1032:1
    val inflated = forgedPng(2000, 2000, 2, new Array[Byte](16))
    val e2 = intercept[IllegalArgumentException](ImageCodecs.decode(inflated))
    assert(e2.getMessage.contains("exceed the compressed data"), e2.getMessage)
  }

  test("GIF truncated inside an extension or image descriptor fails with the typed error") {
    val header = "GIF89a".getBytes("US-ASCII") ++ Array[Byte](4, 0, 4, 0, 0, 0, 0)
    for (tail <- Seq(Array[Byte](0x21), Array[Byte](0x21, 0xf9.toByte),
        Array[Byte](0x2c, 0, 0, 0), Array[Byte](0x2c, 0, 0, 0, 0, 4, 0, 4, 0))) {
      intercept[IllegalArgumentException](ImageCodecs.decode(header ++ tail))
    }
  }

  test("GIF descriptor larger than its LZW payload can encode fails before allocating") {
    // 65535 x 10922 (~715M pixels) passes the Int-overflow check; 20 bytes
    // of 3-bit codes emit at most 4096 * 160 / 3 pixels
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](1, 0, 1, 0, 0x80.toByte, 0, 0)) // screen + 2-color global table
    out.write(Array[Byte](0, 0, 0, -1, -1, -1))
    out.write(Array[Byte](0x2c, 0, 0, 0, 0, -1, -1, 0xaa.toByte, 0x2a, 0)) // 65535 x 10922
    out.write(Array[Byte](2, 20)); out.write(new Array[Byte](20)); out.write(Array[Byte](0, 0x3b))
    val e = intercept[IllegalArgumentException](ImageCodecs.decode(out.toByteArray))
    assert(e.getMessage.contains("exceed what 20 LZW bytes can encode"), e.getMessage)
  }

  test("truncated payloads and unknown magic fail loudly") {
    val good = ImageCodecs.encodePpm(img(4, 4))
    intercept[IllegalArgumentException] {
      ImageCodecs.decode(java.util.Arrays.copyOfRange(good, 0, good.length - 5))
    }
    intercept[IllegalArgumentException] { ImageCodecs.decode("XY whatever".getBytes) }
    val bmp = ImageCodecs.encodeBmp(img(5, 5))
    intercept[IllegalArgumentException] {
      ImageCodecs.decode(java.util.Arrays.copyOfRange(bmp, 0, 53))
    }
  }

  test("distributed decode stats equal a driver-side reference") {
    val spark = SparkTestSession.spark
    val media = graft.operators.Multimodal.syntheticImages(spark, 60)
    val got = graft.operators.Multimodal.decodeImageStats(media)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    for (id <- 0L until 60L) {
      val w = 8 + (id % 9).toInt; val h = 6 + (id % 7).toInt
      var sr = 0L; var sg = 0L; var sb = 0L
      for (p <- 0 until w * h) {
        sr += ((id * 31 + (3 * p) * 7) % 256).toInt
        sg += ((id * 31 + (3 * p + 1) * 7) % 256).toInt
        sb += ((id * 31 + (3 * p + 2) * 7) % 256).toInt
      }
      assert(got(id) == ((w, h, sr, sg, sb)), s"id $id")
    }
  }
}
