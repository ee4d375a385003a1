package graft.pipeline

/**
 * Real (non-stub) image codecs in pure Scala: Netpbm PPM — both the
 * binary `P6` and ASCII `P3` variants (Poskanzer's netpbm formats:
 * magic, whitespace-separated header tokens, `#` comments to end of
 * line, maxval, then samples) — and uncompressed 24-bit Windows BMP
 * (BITMAPFILEHEADER + BITMAPINFOHEADER, little-endian, BGR byte
 * order, rows padded to 4 bytes, bottom-up unless biHeight < 0).
 *
 * `decode` really parses payload bytes — header tokenization, comment
 * skipping, row padding, bottom-up flip, BGR→RGB — and the engine's
 * image statistics run on the decoded pixels. The decoded form is
 * row-major top-left RGB, 8 bits per sample.
 *
 * Everything here is a pure function of the payload (no RNG, no
 * native handles), so any parallelism decodes identically — the same
 * determinism contract as the rest of the engine.
 */
object ImageCodecs {

  /** Row-major top-left RGB image, 3 bytes per pixel. */
  final case class DecodedImage(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * 3)
  }

  // ------------------------------------------------------------ PPM

  /** Encode as binary PPM (`P6`, maxval 255). */
  def encodePpm(img: DecodedImage): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  /** Encode as ASCII PPM (`P3`, maxval 255), 70-col-friendly lines. */
  def encodePpmAscii(img: DecodedImage): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("P3\n# graft synthetic\n").append(img.width).append(' ')
      .append(img.height).append("\n255\n")
    var i = 0
    while (i < img.rgb.length) {
      sb.append(img.rgb(i) & 0xff)
      sb.append(if ((i + 1) % 12 == 0) '\n' else ' ')
      i += 1
    }
    sb.append('\n')
    sb.toString.getBytes("US-ASCII")
  }

  // ------------------------------------------------------------ BMP

  /** Encode as uncompressed 24-bit bottom-up BMP (BGR, padded rows). */
  def encodeBmp(img: DecodedImage): Array[Byte] = {
    val rowBytes = img.width * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * img.height
    val out = new Array[Byte](54 + dataSize)
    def p16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def p32(off: Int, v: Int): Unit = { p16(off, v & 0xffff); p16(off + 2, v >>> 16) }
    out(0) = 'B'; out(1) = 'M'
    p32(2, out.length); p32(10, 54) // file size, pixel-data offset
    p32(14, 40) // BITMAPINFOHEADER size
    p32(18, img.width); p32(22, img.height) // positive height = bottom-up
    p16(26, 1); p16(28, 24) // planes, bpp
    p32(30, 0); p32(34, dataSize) // BI_RGB, image size
    var y = 0
    while (y < img.height) {
      // bottom-up: file row y holds logical row (height-1-y), BGR order
      val srcRow = (img.height - 1 - y) * rowBytes
      val dstRow = 54 + y * (rowBytes + pad)
      var x = 0
      while (x < img.width) {
        out(dstRow + x * 3) = img.rgb(srcRow + x * 3 + 2) // B
        out(dstRow + x * 3 + 1) = img.rgb(srcRow + x * 3 + 1) // G
        out(dstRow + x * 3 + 2) = img.rgb(srcRow + x * 3) // R
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------ PNG

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(p => c.update(p))
    c.getValue.toInt
  }

  /** Encode as PNG (8-bit RGB, color type 2, no interlace): IHDR +
    * one deflated IDAT (filter 0 per scanline) + IEND, all with real
    * CRC-32 trailers. */
  def encodePng(img: DecodedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes("US-ASCII")
      out.write(be32(data.length)); out.write(t); out.write(data)
      out.write(be32(crc32(t, data)))
    }
    out.write(PngSig)
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write(be32(img.width)); ihdr.write(be32(img.height))
    ihdr.write(8); ihdr.write(2) // bit depth 8, color type RGB
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate, adaptive filter, no interlace
    chunk("IHDR", ihdr.toByteArray)
    // raw scanlines: filter byte 0 + RGB row
    val raw = new Array[Byte](img.height * (1 + img.width * 3))
    var y = 0
    while (y < img.height) {
      System.arraycopy(img.rgb, y * img.width * 3,
        raw, y * (1 + img.width * 3) + 1, img.width * 3)
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) comp.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode PNG: 8-bit RGB (type 2) and RGBA (type 6, alpha dropped),
    * non-interlaced; multi-IDAT concatenation, CRC-32 verification on
    * every chunk, ancillary chunks skipped, and full scanline
    * defiltering (None/Sub/Up/Average/Paeth — the part a PNG reader
    * cannot fake). */
  private def decodePng(b: Array[Byte]): DecodedImage = {
    require(b.length >= 8 && (0 until 8).forall(i => b(i) == PngSig(i)),
      "PNG: bad signature")
    def be32(off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
    var pos = 8
    var w = -1; var h = -1; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var ended = false
    while (!ended) {
      require(pos + 8 <= b.length, "PNG: truncated chunk header")
      val len = be32(pos)
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      require(len >= 0 && pos + 12 + len <= b.length, s"PNG: truncated $typ chunk")
      val crcWant = be32(pos + 8 + len)
      val crcGot = crc32(java.util.Arrays.copyOfRange(b, pos + 4, pos + 8 + len))
      require(crcGot == crcWant, s"PNG: CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "PNG: bad IHDR length")
          w = be32(pos + 8); h = be32(pos + 12)
          val bitDepth = b(pos + 16) & 0xff
          colorType = b(pos + 17) & 0xff
          require(bitDepth == 8, s"PNG: only bit depth 8 supported, got $bitDepth")
          require(colorType == 2 || colorType == 6,
            s"PNG: only RGB/RGBA supported, got color type $colorType")
          require((b(pos + 18) & 0xff) == 0 && (b(pos + 19) & 0xff) == 0,
            "PNG: unsupported compression/filter method")
          require((b(pos + 20) & 0xff) == 0, "PNG: interlaced images unsupported")
          checkDims(w, h, b.length, 0, bpp = if (colorType == 6) 4 else 3)
        case "IDAT" =>
          require(w > 0, "PNG: IDAT before IHDR")
          idat.write(b, pos + 8, len)
        case "IEND" => ended = true
        case _ => () // ancillary chunk (tEXt, pHYs, gAMA …): skip
      }
      pos += 12 + len
    }
    require(w > 0 && idat.size() > 0, "PNG: missing IHDR or IDAT")
    val bpp = if (colorType == 6) 4 else 3
    val stride = w * bpp
    // deflate expands at most 1032:1, so a larger pixel buffer is a
    // forged header — refused before it is allocated
    require(h.toLong * (1 + stride) <= idat.size().toLong * 1032 + 1024,
      s"PNG: dimensions $w x $h exceed the compressed data")
    val raw = new Array[Byte](h * (1 + stride))
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var off = 0
    try {
      var stalled = false
      while (off < raw.length && !inflater.finished() && !stalled) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0) stalled = true // needs more input = truncated stream
        else off += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"PNG: corrupt deflate stream: ${e.getMessage}")
    } finally inflater.end()
    require(off == raw.length, s"PNG: short pixel data ($off of ${raw.length})")
    // defilter in place, row by row (PNG spec §9: filters act on the
    // FILTERED bytes of this row + the RECONSTRUCTED previous row)
    def paeth(a: Int, bb: Int, c: Int): Int = {
      val p = a + bb - c
      val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
    }
    val recon = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = raw(y * (1 + stride)) & 0xff
      val rowIn = y * (1 + stride) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xff
        val left = if (x >= bpp) recon(rowOut + x - bpp) & 0xff else 0
        val up = if (y > 0) recon(rowOut - stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= bpp) recon(rowOut - stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 => cur + paeth(left, up, ul)
          case other => throw new IllegalArgumentException(s"PNG: bad filter $other")
        }
        recon(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // drop alpha if present
    val rgb =
      if (bpp == 3) recon
      else {
        val out = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          out(i * 3) = recon(i * 4); out(i * 3 + 1) = recon(i * 4 + 1)
          out(i * 3 + 2) = recon(i * 4 + 2)
          i += 1
        }
        out
      }
    DecodedImage(w, h, rgb)
  }

  // ------------------------------------------------------------ GIF

  /**
   * Encode as GIF89a: global color table built from the image's
   * distinct colors (≤ 256 — the format's palette limit), single
   * non-interlaced frame, and the dictionary-tracking fixed-code LZW
   * emitter (a CLEAR is issued whenever the decoder's dictionary
   * would force a code-width growth, so codes stay at minCode+1 bits
   * — valid LZW any conformant reader accepts).
   */
  def encodeGif(img: DecodedImage): Array[Byte] = {
    // palette: first-seen order
    val palette = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    val nPix = img.width * img.height
    val indices = new Array[Int](nPix)
    var i = 0
    while (i < nPix) {
      val c = ((img.rgb(i * 3) & 0xff) << 16) | ((img.rgb(i * 3 + 1) & 0xff) << 8) |
        (img.rgb(i * 3 + 2) & 0xff)
      indices(i) = palette.getOrElseUpdate(c, palette.size)
      i += 1
    }
    require(palette.size <= 256, s"gif: ${palette.size} colors exceed the 256-entry palette")
    // GCT size = smallest power of two >= palette, min 2 entries
    var gctBits = 1
    while ((1 << gctBits) < palette.size) gctBits += 1
    val gctSize = 1 << gctBits
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(img.width); u16(img.height)
    out.write(0x80 | (gctBits - 1)) // GCT present, 2^gctBits entries
    out.write(0); out.write(0) // background, aspect
    val colors = palette.keys.toArray
    var k = 0
    while (k < gctSize) {
      val c = if (k < colors.length) colors(k) else 0
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff); out.write(c & 0xff)
      k += 1
    }
    out.write(0x2c) // image descriptor
    u16(0); u16(0); u16(img.width); u16(img.height)
    out.write(0) // no LCT, not interlaced
    val minCode = math.max(2, gctBits)
    out.write(minCode)
    // fixed-width LZW: literal codes only, CLEAR before the decoder's
    // dictionary reaches 1 << (minCode+1)
    val clear = 1 << minCode
    val eoi = clear + 1
    val codeSize = minCode + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += codeSize
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; nAcc -= 8 }
    }
    emit(clear)
    var free = eoi + 1
    i = 0
    while (i < nPix) {
      if (free >= (1 << codeSize) - 1) { emit(clear); free = eoi + 1 }
      emit(indices(i))
      free += 1 // the decoder adds one dictionary entry per code after a clear
      i += 1
    }
    emit(eoi)
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    // data sub-blocks of <= 255 bytes
    val payload = bits.toByteArray
    var off = 0
    while (off < payload.length) {
      val n = math.min(255, payload.length - off)
      out.write(n); out.write(payload, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Decode GIF87a/89a (first frame): global/local color tables,
    * extension-block skipping, FULL dynamic-width LZW with
    * clear/EOI/dictionary-growth semantics, and 4-pass de-interlace.
    * Animation frames past the first are ignored; transparency maps
    * to the palette color (no alpha in the 2-D RGB model). */
  private def decodeGif(b: Array[Byte]): DecodedImage = {
    require(b.length >= 13, "gif: truncated header")
    val magic = new String(b, 0, 6, "US-ASCII")
    require(magic == "GIF87a" || magic == "GIF89a", s"gif: bad magic '$magic'")
    def u16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    val flags = b(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      require(pos + 3 * n <= b.length, "gif: truncated global color table")
      gct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
      pos += 3 * n
    }
    while (true) {
      require(pos < b.length, "gif: missing image data")
      (b(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          require(pos + 2 < b.length, "gif: truncated extension")
          pos += 2
          var sz = b(pos) & 0xff
          while (sz != 0) { pos += 1 + sz; require(pos < b.length, "gif: truncated extension"); sz = b(pos) & 0xff }
          pos += 1
        case 0x3b => throw new IllegalArgumentException("gif: trailer before image data")
        case 0x2c =>
          require(pos + 10 <= b.length, "gif: truncated image descriptor")
          val iw = u16(pos + 5); val ih = u16(pos + 7)
          val iflags = b(pos + 9) & 0xff
          pos += 10
          checkDims(iw, ih, b.length, 0)
          var table = gct
          if ((iflags & 0x80) != 0) {
            val n = 2 << (iflags & 7)
            require(pos + 3 * n <= b.length, "gif: truncated local color table")
            table = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
            pos += 3 * n
          }
          require(table != null, "gif: no color table")
          val interlaced = (iflags & 0x40) != 0
          require(pos + 1 < b.length, "gif: truncated image data")
          val minCode = b(pos) & 0xff; pos += 1
          require(minCode >= 2 && minCode <= 11, s"gif: bad LZW min code size $minCode")
          // concatenate data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var sz = b(pos) & 0xff
          while (sz != 0) {
            require(pos + 1 + sz <= b.length, "gif: truncated image data")
            data.write(b, pos + 1, sz); pos += 1 + sz
            require(pos < b.length, "gif: truncated image data")
            sz = b(pos) & 0xff
          }
          // each LZW code takes >= minCode+1 bits and emits <= 4096 pixels,
          // so the payload bounds the pixel count before anything is sized
          require(iw.toLong * ih <= 4096L * 8 * data.size / (minCode + 1),
            s"gif: dimensions $iw x $ih exceed what ${data.size} LZW bytes can encode")
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih)
          // map indices through the color table, de-interlacing rows
          val rgb = new Array[Byte](iw * ih * 3)
          val rowOrder: Array[Int] =
            if (!interlaced) Array.tabulate(ih)(identity)
            else {
              val order = new Array[Int](ih)
              var r = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until ih by step) {
                order(r) = y; r += 1
              }
              order
            }
          var srcRow = 0
          while (srcRow < ih) {
            val dstRow = rowOrder(srcRow)
            var x = 0
            while (x < iw) {
              val idx = indices(srcRow * iw + x)
              require(idx * 3 + 2 < table.length, s"gif: palette index $idx out of range")
              rgb((dstRow * iw + x) * 3) = table(idx * 3)
              rgb((dstRow * iw + x) * 3 + 1) = table(idx * 3 + 1)
              rgb((dstRow * iw + x) * 3 + 2) = table(idx * 3 + 2)
              x += 1
            }
            srcRow += 1
          }
          return DecodedImage(iw, ih, rgb)
        case other => throw new IllegalArgumentException(f"gif: unknown block 0x$other%02x")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** GIF-variant LZW: LSB-first codes of dynamic width minCode+1..12,
    * CLEAR resets the dictionary, EOI ends the stream, and the
    * just-about-to-be-defined code (cur == free) resolves to
    * prev + firstByte(prev) — the classic KwKwK case. */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPix: Int): Array[Int] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var codeSize = minCode + 1
    var free = eoi + 1
    var prev = -1
    val out = new Array[Int](nPix)
    var nOut = 0
    var acc = 0L; var nAcc = 0; var pos = 0
    val stack = new Array[Int](4096)
    while (nOut < nPix) {
      while (nAcc < codeSize) {
        require(pos < data.length, "gif: LZW stream ends early")
        acc |= (data(pos) & 0xffL) << nAcc; nAcc += 8; pos += 1
      }
      val code = (acc & ((1 << codeSize) - 1)).toInt
      acc >>>= codeSize; nAcc -= codeSize
      if (code == clear) {
        codeSize = minCode + 1; free = eoi + 1; prev = -1
      } else if (code == eoi) {
        require(nOut == nPix, s"gif: EOI after $nOut of $nPix pixels")
      } else {
        require(code < free || (code == free && prev >= 0), s"gif: bad LZW code $code")
        // expand the code (or the KwKwK case) onto the stack
        var sp = 0
        var cur = code
        if (cur == free) { // not yet defined: prev + firstByte(prev)
          var p = prev
          while (p >= clear + 2) p = prefix(p) // walk to the first byte
          stack(sp) = p; sp += 1
          cur = prev
        }
        while (cur >= clear + 2) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
        stack(sp) = cur; sp += 1 // the root literal
        val firstByte = cur
        while (sp > 0) { sp -= 1; require(nOut < nPix, "gif: more pixels than declared"); out(nOut) = stack(sp); nOut += 1 }
        if (prev >= 0 && free < 4096) {
          prefix(free) = prev; suffix(free) = firstByte
          free += 1
          if (free == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    out
  }

  // --------------------------------------------------------- decode

  /** Sniff the magic and decode; throws IllegalArgumentException on
    * unknown magic, truncation, or unsupported variants. */
  def decode(payload: Array[Byte]): DecodedImage = {
    require(payload.length >= 2, "image payload too short")
    val m0 = payload(0).toInt & 0xff
    val m1 = payload(1).toChar
    if (m0 == 'P' && m1 == '6') decodePpmBinary(payload)
    else if (m0 == 'P' && m1 == '3') decodePpmAscii(payload)
    else if (m0 == 'B' && m1 == 'M') decodeBmp(payload)
    else if (m0 == 0x89 && m1 == 'P') decodePng(payload)
    else if (m0 == 'G' && m1 == 'I') decodeGif(payload)
    else throw new IllegalArgumentException(
      s"unknown image magic '${m0.toChar}$m1' (supported: P6, P3, BM, PNG, GIF)")
  }

  /** Netpbm header tokenizer: whitespace-separated decimal tokens,
    * `#` starts a comment running to end of line. Returns the value
    * and the index just past the SINGLE whitespace byte that
    * terminates the token (the P6 contract: exactly one whitespace
    * after maxval, then raw samples). */
  private def readToken(b: Array[Byte], from: Int): (Int, Int) = {
    var i = from
    // skip whitespace and comments
    var skipping = true
    while (skipping) {
      while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r'))
        i += 1
      if (i < b.length && b(i) == '#') {
        while (i < b.length && b(i) != '\n') i += 1
      } else skipping = false
    }
    require(i < b.length && b(i) >= '0' && b(i) <= '9',
      s"netpbm: expected decimal token at byte $i")
    var v = 0
    while (i < b.length && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0'); i += 1
    }
    (v, i)
  }

  /** Adversarial-header guard: dimensions must be positive and the
    * pixel count must fit the payload we actually hold — without this
    * a forged header could drive a negative/overflowed allocation
    * (raw NegativeArraySizeException instead of the typed error).
    * `bpp` is the decoder's bytes per pixel; its largest buffer is
    * PNG's filtered rows, h * (1 + w * bpp) bytes, sized here in Long. */
  private def checkDims(w: Int, h: Int, available: Int, bytesPerPx: Int, bpp: Int = 3): Unit = {
    require(w > 0 && h > 0, s"image: non-positive dimensions $w x $h")
    require(h.toLong * (1 + w.toLong * bpp) <= Int.MaxValue &&
      (bytesPerPx == 0 || w.toLong * h * bytesPerPx <= available.toLong),
      s"image: dimensions $w x $h exceed the payload")
  }

  private def decodePpmBinary(b: Array[Byte]): DecodedImage = {
    val (w, i1) = readToken(b, 2)
    val (h, i2) = readToken(b, i1)
    val (maxval, i3) = readToken(b, i2)
    checkDims(w, h, b.length, 3)
    require(maxval == 255, s"P6: only maxval 255 supported, got $maxval")
    require(i3 < b.length && (b(i3) == ' ' || b(i3) == '\t' || b(i3) == '\n' || b(i3) == '\r'),
      "P6: missing whitespace after maxval")
    val start = i3 + 1
    val need = w * h * 3
    require(b.length - start >= need,
      s"P6: truncated pixel data (need $need, have ${b.length - start})")
    val rgb = java.util.Arrays.copyOfRange(b, start, start + need)
    DecodedImage(w, h, rgb)
  }

  private def decodePpmAscii(b: Array[Byte]): DecodedImage = {
    val (w, i1) = readToken(b, 2)
    val (h, i2) = readToken(b, i1)
    val (maxval, i3) = readToken(b, i2)
    checkDims(w, h, b.length, 0) // ASCII samples: only the product bound applies
    require(maxval == 255, s"P3: only maxval 255 supported, got $maxval")
    val need = w * h * 3
    val rgb = new Array[Byte](need)
    var i = i3
    var n = 0
    while (n < need) {
      val (v, ni) = readToken(b, i)
      require(v <= 255, s"P3: sample $v exceeds maxval")
      rgb(n) = v.toByte; n += 1; i = ni
    }
    DecodedImage(w, h, rgb)
  }

  private def decodeBmp(b: Array[Byte]): DecodedImage = {
    def u16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    def u32(off: Int): Int = u16(off) | (u16(off + 2) << 16)
    require(b.length >= 54, "BMP: truncated header")
    val dataOff = u32(10)
    val headerSize = u32(14)
    require(headerSize >= 40, s"BMP: need BITMAPINFOHEADER, got size $headerSize")
    val w = u32(18)
    val rawH = u32(22)
    val topDown = rawH < 0 // negative biHeight = top-down row order
    val h = if (topDown) -rawH else rawH
    require(u16(28) == 24, s"BMP: only 24bpp supported, got ${u16(28)}")
    require(u32(30) == 0, s"BMP: only BI_RGB (uncompressed) supported, got ${u32(30)}")
    checkDims(w, h, b.length, 3)
    val rowBytes = w * 3
    val stride = rowBytes + (4 - rowBytes % 4) % 4
    require(dataOff >= 54 && dataOff < b.length, s"BMP: bad data offset $dataOff")
    require(b.length.toLong - dataOff >= stride.toLong * h, "BMP: truncated pixel data")
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
      val dstRow = y * rowBytes
      var x = 0
      while (x < w) {
        rgb(dstRow + x * 3) = b(srcRow + x * 3 + 2) // R <- file B slot
        rgb(dstRow + x * 3 + 1) = b(srcRow + x * 3 + 1) // G
        rgb(dstRow + x * 3 + 2) = b(srcRow + x * 3) // B <- file R slot
        x += 1
      }
      y += 1
    }
    DecodedImage(w, h, rgb)
  }
}
