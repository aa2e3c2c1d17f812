package graft.ext

import java.awt.image.BufferedImage
import java.nio.{ByteBuffer, ByteOrder}

import graft.ext.Multimodal.Frame

/** REAL media-container codecs, self-written from the public format
  * specifications — no image/audio libraries involved.
  *
  * The stub codec ([[Multimodal.StubCodec]]) keeps the media operator
  * family hash-checkable offline, but it never exercises a real
  * container's byte layout. These two formats are simple enough to
  * implement exactly from the public spec, which closes that caveat for
  * one image and one audio modality end-to-end:
  *
  *  - WAV: RIFF chunk stream (Microsoft/IBM Multimedia Programming
  *    Interface spec, 1991) — "RIFF" header, chunk walk with WORD
  *    alignment (odd-sized chunks carry a pad byte), "fmt " (PCM, mono,
  *    16-bit LE) and "data" chunks in any order with foreign chunks
  *    (e.g. "LIST") skipped.
  *  - BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (Windows DIB spec),
  *    24 bpp uncompressed, BOTTOM-UP row order, each row padded to a
  *    4-byte boundary, pixel data at the offset the file header declares.
  *
  * The encoders deliberately emit the traps a lazy parser trips over:
  * the WAV writer inserts a LIST chunk (with an odd-sized payload)
  * BETWEEN fmt and data, and the BMP writer picks widths that are not
  * multiples of 4 so the row padding is nonzero. A decoder that assumes
  * "data starts at byte 44" or "rows are w·3 bytes, top-down" produces
  * garbage — the q188/q189 oracle twins recompute the expected
  * samples/pixels arithmetically, so a hash match proves the
  * encode → parse chain is lossless THROUGH the container layout.
  */
object Containers {

  // ImageIO's default ImageInputStream/ImageOutputStream cache is a TEMP
  // FILE per read/write call: with the codec stages spread across 32
  // tasks, 5000 payloads × (encode + decode) create/delete 10k+ files in
  // the temp dir and the kernel serializes the whole stage (measured
  // round 17: parallel q204 ran SLOWER than serial until this was set).
  // These payloads are kilobytes — memory-cached streams are strictly
  // better. JVM-global, set once when the codec family first loads.
  javax.imageio.ImageIO.setUseCache(false)

  // --------------------------------------------------------------- WAV

  /** Serialize 16-bit signed mono PCM samples into a real RIFF/WAVE
    * container. Layout: RIFF header, "fmt " chunk, a "LIST"/INFO chunk
    * with an odd-sized text payload (so the spec's WORD-alignment pad
    * byte is actually present and a chunk-walking parser must honor
    * it), then the "data" chunk, samples little-endian.
    */
  def wavBytes(samples: Array[Int], sampleRate: Int = 16000): Array[Byte] = {
    val info = "graft".getBytes("US-ASCII") // 5 bytes — odd on purpose
    val listBody = 4 + 8 + info.length // "INFO" + sub-chunk header + text
    val listPad = listBody & 1
    val dataLen = samples.length * 2
    val dataPad = dataLen & 1 // always 0 for 16-bit, kept for spec fidelity
    val riffLen = 4 + (8 + 16) + (8 + listBody + listPad) + (8 + dataLen + dataPad)
    val buf = ByteBuffer.allocate(8 + riffLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
      .put("WAVE".getBytes("US-ASCII"))
    // fmt : PCM(1), mono, sampleRate, byteRate, blockAlign, 16 bits
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
    // LIST/INFO with an IART sub-chunk — a foreign chunk mid-stream
    buf.put("LIST".getBytes("US-ASCII")).putInt(listBody)
      .put("INFO".getBytes("US-ASCII"))
      .put("IART".getBytes("US-ASCII")).putInt(info.length).put(info)
    if (listPad == 1) buf.put(0.toByte)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i).toShort); i += 1 }
    if (dataPad == 1) buf.put(0.toByte)
    buf.array()
  }

  /** Parse a RIFF/WAVE container: validate the magic, WALK the chunk
    * stream (id + LE size, odd sizes padded to WORD boundaries), accept
    * "fmt " and "data" in any order, skip everything else. Requires
    * PCM / mono / 16-bit; returns signed samples in [-32768, 32767].
    */
  def decodeWav(bytes: Array[Byte]): Array[Int] = {
    val buf = riffForm(bytes, "WAVE", "decodeWav", "not a WAVE form")
    var fmtSeen = false
    var data: Array[Int] = null
    val end = 8 + buf.getInt(4)
    while (buf.position() + 8 <= end) {
      val id = fourCC(buf)
      val len = buf.getInt
      require(len >= 0 && buf.position() + len <= end,
        s"decodeWav: chunk '$id' length $len overruns the form")
      val next = buf.position() + len + (len & 1) // WORD-align per spec
      id match {
        case "fmt " =>
          require(len >= 16, "decodeWav: fmt chunk too short")
          val tag = buf.getShort; val ch = buf.getShort
          buf.getInt; buf.getInt; buf.getShort // rates + blockAlign unused
          val bits = buf.getShort
          require(tag == 1 && ch == 1 && bits == 16,
            s"decodeWav: need PCM mono 16-bit, got tag=$tag ch=$ch bits=$bits")
          fmtSeen = true
        case "data" =>
          require(len % 2 == 0, "decodeWav: odd data length for 16-bit PCM")
          val out = new Array[Int](len / 2)
          var i = 0
          while (i < out.length) { out(i) = buf.getShort.toInt; i += 1 }
          data = out
        case _ => () // LIST/INFO, fact, … — skip
      }
      buf.position(math.min(next, end))
    }
    require(fmtSeen, "decodeWav: no fmt chunk")
    require(data != null, "decodeWav: no data chunk")
    data
  }

  /** A little-endian reader over a RIFF form (shared by [[decodeWav]] and
    * [[decodeAvi]]): checks the "RIFF" magic, the declared length against
    * the payload and the form type, and returns the buffer positioned at
    * the first chunk; the form ends at `8 + buf.getInt(4)`.
    */
  private def riffForm(bytes: Array[Byte], form: String, caller: String,
      wrongForm: String): ByteBuffer = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(fourCC(buf) == "RIFF", s"$caller: missing RIFF magic")
    val riffLen = buf.getInt
    require(riffLen >= 4 && 8 + riffLen <= bytes.length,
      s"$caller: RIFF length $riffLen exceeds payload")
    require(fourCC(buf) == form, s"$caller: $wrongForm")
    buf
  }

  private def fourCC(buf: ByteBuffer): String = {
    val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
  }

  /** Bytes per stored row of a 24 bpp DIB (BMP and AVI frames): w·3
    * padded to a 4-byte boundary.
    */
  private def dibStride(w: Int): Int = (w * 3 + 3) / 4 * 4

  /** Write a gray frame as DIB rows: pixel (v, v, v) = B, G, R, rows
    * BOTTOM-UP (last image row first), each padded to [[dibStride]].
    */
  private def putDib(buf: ByteBuffer, f: Frame): Unit = {
    val pad = dibStride(f.width) - f.width * 3
    var y = f.height - 1
    while (y >= 0) {
      var x = 0
      while (x < f.width) {
        val v = (f.pixels(y * f.width + x) & 0xff).toByte
        buf.put(v).put(v).put(v)
        x += 1
      }
      var p = 0
      while (p < pad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
  }

  /** Read w × h DIB rows stored from `pos` (the [[putDib]] layout) into a
    * gray frame; gray = the blue channel (the encoders write equal
    * channels).
    */
  private def readDib(bytes: Array[Byte], pos: Int, w: Int, h: Int): Frame = {
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val fileRow = pos + dibStride(w) * y
      val imgY = h - 1 - y
      var x = 0
      while (x < w) {
        px(imgY * w + x) = bytes(fileRow + x * 3) & 0xff
        x += 1
      }
      y += 1
    }
    Frame(w, h, px)
  }

  // --------------------------------------------------------------- AVI

  /** Serialize grayscale frames as a real uncompressed AVI: a RIFF
    * 'AVI ' form holding a 'hdrl' LIST (avih main header + one 'strl'
    * stream LIST with 'strh'/'strf', the strf being the
    * BITMAPINFOHEADER that carries the frame dimensions) and a 'movi'
    * LIST of '00db' chunks — each frame a raw 24 bpp BOTTOM-UP DIB with
    * 4-byte row padding, exactly the BMP pixel layout without the file
    * header (Microsoft AVI RIFF spec). All frames share one geometry.
    */
  def aviBytes(frames: Seq[Frame], fps: Int = 25): Array[Byte] = {
    require(frames.nonEmpty, "aviBytes: at least one frame")
    val w = frames.head.width
    val h = frames.head.height
    require(frames.forall(f => f.width == w && f.height == h),
      "aviBytes: frames must share one geometry")
    val frameLen = dibStride(w) * h
    val strfLen = 40
    val strhLen = 56
    val avihLen = 56
    val strlLen = 4 + (8 + strhLen) + (8 + strfLen)
    val hdrlLen = 4 + (8 + avihLen) + (8 + strlLen)
    val moviLen = 4 + frames.length * (8 + frameLen)
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val buf = ByteBuffer.allocate(8 + riffLen).order(ByteOrder.LITTLE_ENDIAN)
    def tag(t: String): Unit = { buf.put(t.getBytes("US-ASCII")); () }
    tag("RIFF"); buf.putInt(riffLen); tag("AVI ")
    // hdrl
    tag("LIST"); buf.putInt(hdrlLen); tag("hdrl")
    tag("avih"); buf.putInt(avihLen)
    buf.putInt(1000000 / fps) // µs per frame
      .putInt(frameLen * fps) // max bytes/sec
      .putInt(0) // padding granularity
      .putInt(0x10) // AVIF_HASINDEX off — no idx1 written
      .putInt(frames.length).putInt(0).putInt(1).putInt(frameLen)
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    // strl
    tag("LIST"); buf.putInt(strlLen); tag("strl")
    tag("strh"); buf.putInt(strhLen)
    tag("vids"); tag("DIB ")
    buf.putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(fps) // rate = fps/1
      .putInt(0).putInt(frames.length).putInt(frameLen)
      .putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    // strf = BITMAPINFOHEADER
    tag("strf"); buf.putInt(strfLen)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(frameLen).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    // movi
    tag("LIST"); buf.putInt(moviLen); tag("movi")
    frames.foreach { f => tag("00db"); buf.putInt(frameLen); putDib(buf, f) }
    buf.array()
  }

  /** Parse an uncompressed AVI: walk the RIFF form for the 'hdrl' LIST
    * (dimensions from the 'strl'/'strf' BITMAPINFOHEADER — NOT from
    * per-frame data, which '00db' DIBs don't carry) and the 'movi' LIST
    * ('00db'/'00dc' chunks in stream order, WORD-aligned), decoding each
    * frame's bottom-up padded 24 bpp rows to grayscale (blue channel).
    */
  def decodeAvi(bytes: Array[Byte]): Seq[Frame] = {
    val buf = riffForm(bytes, "AVI ", "decodeAvi", "not an AVI form")
    var w = -1
    var h = -1
    val frames = scala.collection.mutable.ArrayBuffer[Frame]()
    def walk(end: Int, inMovi: Boolean): Unit = {
      while (buf.position() + 8 <= end) {
        val id = fourCC(buf)
        val len = buf.getInt
        require(len >= 0 && buf.position() + len <= end,
          s"decodeAvi: chunk '$id' length $len overruns its list")
        val next = buf.position() + len + (len & 1)
        id match {
          case "LIST" =>
            val listType = fourCC(buf)
            walk(buf.position() + len - 4, inMovi || listType == "movi")
          case "strf" =>
            require(len >= 40, "decodeAvi: strf too short")
            val p0 = buf.position()
            buf.getInt // biSize
            w = buf.getInt
            h = buf.getInt
            buf.getShort
            val bpp = buf.getShort
            val comp = buf.getInt
            require(bpp == 24 && comp == 0,
              s"decodeAvi: need 24 bpp uncompressed, got bpp=$bpp comp=$comp")
            buf.position(p0)
          case c if inMovi && (c == "00db" || c == "00dc") =>
            require(w > 0 && h > 0, "decodeAvi: frame chunk before strf header")
            val needed = dibStride(w) * h
            require(len >= needed,
              s"decodeAvi: frame chunk '$c' length $len shorter than $needed")
            frames += readDib(bytes, buf.position(), w, h)
          case _ => () // avih, strh, junk, idx1 — skip
        }
        buf.position(math.min(next, end))
      }
    }
    walk(8 + buf.getInt(4), inMovi = false)
    require(frames.nonEmpty, "decodeAvi: no frame chunks in movi list")
    frames.toSeq
  }

  // --------------------------------------------------------------- BMP

  /** Serialize a grayscale frame as a real 24 bpp uncompressed BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER): pixel (v, v, v), rows
    * BOTTOM-UP, each padded to a 4-byte boundary, pixel data at the
    * declared offset.
    */
  def bmpBytes(f: Frame): Array[Byte] = {
    val imgLen = dibStride(f.width) * f.height
    val off = 14 + 40
    val buf = ByteBuffer.allocate(off + imgLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(off + imgLen)
      .putShort(0).putShort(0).putInt(off)
    buf.putInt(40).putInt(f.width).putInt(f.height).putShort(1).putShort(24)
      .putInt(0).putInt(imgLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    putDib(buf, f)
    buf.array()
  }

  /** Parse a 24 bpp uncompressed BMP into a grayscale frame: honor the
    * file header's pixel-data OFFSET (not a hardcoded 54), bottom-up row
    * order, and per-row 4-byte padding. Gray value = blue channel (the
    * encoder writes equal channels; a color-aware caller would luma-mix
    * here).
    */
  def decodeBmp(bytes: Array[Byte]): Frame = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.get() == 'B'.toByte && buf.get() == 'M'.toByte,
      "decodeBmp: missing BM magic")
    buf.getInt; buf.getShort; buf.getShort
    val off = buf.getInt
    val hdrSize = buf.getInt
    require(hdrSize >= 40, s"decodeBmp: need BITMAPINFOHEADER, got size $hdrSize")
    val w = buf.getInt
    val h = buf.getInt
    require(w > 0 && h > 0, s"decodeBmp: unsupported dimensions ${w}x$h")
    buf.getShort // planes
    val bpp = buf.getShort
    val compression = buf.getInt
    require(bpp == 24 && compression == 0,
      s"decodeBmp: need 24 bpp uncompressed, got bpp=$bpp comp=$compression")
    require(off + dibStride(w) * h <= bytes.length,
      "decodeBmp: pixel data overruns payload")
    readDib(bytes, off, w, h)
  }

  // --------------------------------------------------------------- PNG

  /** Serialize a grayscale frame as a REAL COMPRESSED PNG (ISO 15948 /
    * RFC 2083: zlib/DEFLATE-compressed scanlines, CRC-checked chunks)
    * via the JDK's ImageIO codec — unlike the self-written WAV/BMP/AVI
    * layouts above, the payload here genuinely rides a compression
    * stage. 8-bit grayscale PNG is lossless, so
    * `decodePng(pngBytes(f)) == f` exactly, which is what lets the
    * q203/q204 twins recompute the pixels arithmetically and
    * hash-check the full encode → DEFLATE → decode chain (the same
    * proof discipline as the raw containers, now through a compressed
    * format). Same chain q107 already exercises for tile rasters
    * (`raster/TileStore.scala` ImageIO.read).
    */
  def pngBytes(f: Frame): Array[Byte] = {
    val img = grayImage(f, "pngBytes")
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos),
      "pngBytes: no PNG writer available")
    bos.toByteArray
  }

  /** Decode a grayscale PNG back to a frame. Fails loudly (the codec
    * discipline) on a missing PNG signature, an unreadable stream, or a
    * non-8-bit/non-gray sample layout — silent channel coercion would
    * corrupt hashes downstream exactly like a silent row-padding bug.
    */
  def decodePng(bytes: Array[Byte]): Frame = {
    requirePngSignature(bytes, "decodePng")
    grayFrame(readImage(bytes, "decodePng"), "decodePng")
  }

  private def requirePngSignature(bytes: Array[Byte], caller: String): Unit = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    require(bytes.length > 8 && sig.indices.forall(i =>
      (bytes(i) & 0xff) == sig(i)), s"$caller: missing PNG signature")
  }

  /** ImageIO's decode of `bytes`, failing loudly when no reader accepts
    * the stream.
    */
  private def readImage(bytes: Array[Byte], caller: String): BufferedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"$caller: no reader accepted the stream")
    img
  }

  /** Copy a gray frame into an 8-bit `TYPE_BYTE_GRAY` image (the PNG and
    * JPEG encoders' input); every pixel must lie in [0, 255].
    */
  private def grayImage(f: Frame, caller: String): BufferedImage = {
    require(f.width > 0 && f.height > 0, s"$caller: empty frame")
    val img = new BufferedImage(f.width, f.height, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < f.height) {
      var x = 0
      while (x < f.width) {
        val v = f.pixels(y * f.width + x)
        require(v >= 0 && v <= 255, s"$caller: pixel $v outside [0, 255]")
        raster.setSample(x, y, 0, v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Copy a decoded image back to a gray frame; it must be one 8-bit
    * band (silent channel coercion would corrupt hashes downstream).
    */
  private def grayFrame(img: BufferedImage, caller: String): Frame = {
    val raster = img.getRaster
    require(raster.getNumBands == 1 && raster.getSampleModel
      .getSampleSize(0) == 8,
      s"$caller: need 8-bit single-band gray, got ${raster.getNumBands} " +
        s"bands x ${raster.getSampleModel.getSampleSize(0)} bits")
    val w = img.getWidth
    val h = img.getHeight
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = raster.getSample(x, y, 0)
        x += 1
      }
      y += 1
    }
    Frame(w, h, px)
  }

  // ---------------------------------------------------------- PNG (RGB)

  /** Serialize packed 0xRRGGBB pixels as a real COMPRESSED COLOR PNG
    * (TYPE_INT_RGB through the JDK codec — ISO 15948 truecolour,
    * 8 bits/channel). RGB PNG is LOSSLESS, so
    * `decodePngRgb(pngBytesRgb(w, h, px)) == (w, h, px)` exactly —
    * which is what keeps an arithmetic DuckDB twin viable for COLOR
    * payloads through the compression stage (q219): the grayscale
    * family ([[pngBytes]]) proved the DEFLATE chain, this closes the
    * "containers are gray-only" caveat without surrendering the twin
    * (JPEG's chroma subsampling never could).
    */
  def pngBytesRgb(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0, "pngBytesRgb: empty frame")
    require(rgb.length == width * height,
      s"pngBytesRgb: ${rgb.length} pixels for ${width}x$height")
    var i = 0
    while (i < rgb.length) {
      require((rgb(i) & 0xffffff) == rgb(i),
        f"pngBytesRgb: pixel 0x${rgb(i)}%08x outside packed 24-bit RGB")
      i += 1
    }
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, rgb, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos),
      "pngBytesRgb: no PNG writer available")
    bos.toByteArray
  }

  /** Decode a color PNG to (width, height, packed 0xRRGGBB pixels).
    * Fails loudly (the codec discipline) on a missing signature, an
    * unreadable stream, or a non-3×8-bit sample layout — silent
    * channel coercion would corrupt the luma hashes downstream.
    */
  def decodePngRgb(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    requirePngSignature(bytes, "decodePngRgb")
    val img = readImage(bytes, "decodePngRgb")
    val sm = img.getRaster.getSampleModel
    require(sm.getNumBands == 3 &&
      (0 until 3).forall(b => sm.getSampleSize(b) == 8),
      s"decodePngRgb: need 3x8-bit RGB, got ${sm.getNumBands} bands x " +
        s"${(0 until sm.getNumBands).map(sm.getSampleSize).mkString("/")} bits")
    val w = img.getWidth
    val h = img.getHeight
    (w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff))
  }

  /** ITU-R 601-2 luma reduction of packed RGB to a grayscale [[Frame]] —
    * PIL's `convert('L')` fixed-point coefficients, the SAME formula the
    * raster family pins (`raster/TileStore.scala` FileTileStore mode
    * "L"): `(r·19595 + g·38470 + b·7471 + 0x8000) >> 16`. Pure integer
    * math, so the q219 twin replays it exactly in SQL.
    */
  def lumaFrame(width: Int, height: Int, rgb: Array[Int]): Frame = {
    require(rgb.length == width * height,
      s"lumaFrame: ${rgb.length} pixels for ${width}x$height")
    Frame(width, height, rgb.map { v =>
      val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
      (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
    })
  }

  // -------------------------------------------------------------- JPEG

  /** Serialize a grayscale frame as a real LOSSY JPEG (ITU T.81 baseline
    * DCT) via the JDK ImageIO codec at the given quality. Unlike every
    * format above, `decodeJpeg(jpegBytes(f)) != f` in general — which is
    * the point: the perceptual-hash family's whole contract is that a
    * LOSSY re-encode still matches its original within a small Hamming
    * radius while unrelated images stay far, and only a genuinely lossy
    * container can demonstrate it. No arithmetic DuckDB twin is possible
    * (the DCT quantization isn't reasonably SQL-mirrorable), so this
    * codec is SPEC-owned: `ContainersSpec` pins bounded per-pixel error
    * and `MultimodalSpec` pins the aHash-survives-JPEG property.
    */
  def jpegBytes(f: Frame, quality: Float = 0.9f): Array[Byte] = {
    require(quality > 0f && quality <= 1f,
      s"jpegBytes: quality in (0, 1], got $quality")
    val img = grayImage(f, "jpegBytes")
    val it = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg")
    require(it.hasNext, "jpegBytes: no JPEG writer available")
    val writer = it.next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Decode a grayscale JPEG. Same loud-failure contract as
    * [[decodePng]]: SOI marker required, single-band 8-bit enforced.
    */
  def decodeJpeg(bytes: Array[Byte]): Frame = {
    require(bytes.length > 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "decodeJpeg: missing SOI marker")
    grayFrame(readImage(bytes, "decodeJpeg"), "decodeJpeg")
  }

  // ------------------------------------------------------ MIME sniffing

  /** Content-type from MAGIC BYTES — the "what is this payload really"
    * gate a crawl pipeline runs before routing bytes to a decoder
    * (served Content-Type headers lie; the bytes don't). Detects every
    * container this engine writes ([[wavBytes]]/[[aviBytes]]/
    * [[bmpBytes]]/[[pngBytes]]/[[jpegBytes]]/gzip members/WARC) plus a
    * conservative text/plain heuristic (first ≤512 bytes all printable
    * ASCII or common whitespace, nonempty). Everything else —
    * including an empty payload, a bare "RIFF" with a foreign form
    * type, or a truncated magic — is `application/octet-stream`, never
    * a guess: misrouting bytes to a decoder is how garbage becomes
    * training data.
    */
  def sniffMime(bytes: Array[Byte]): String = {
    def at(i: Int): Int = bytes(i) & 0xFF
    def ascii(from: Int, s: String): Boolean =
      bytes.length >= from + s.length &&
        s.indices.forall(k => at(from + k) == s.charAt(k).toInt)
    if (ascii(0, "RIFF") && bytes.length >= 12) {
      if (ascii(8, "WAVE")) "audio/x-wav"
      else if (ascii(8, "AVI ")) "video/x-msvideo"
      else "application/octet-stream"
    }
    else if (bytes.length >= 8 && at(0) == 0x89 && ascii(1, "PNG") &&
      at(4) == 0x0D && at(5) == 0x0A && at(6) == 0x1A && at(7) == 0x0A)
      "image/png"
    else if (bytes.length >= 3 && at(0) == 0xFF && at(1) == 0xD8 &&
      at(2) == 0xFF) "image/jpeg"
    else if (ascii(0, "BM") && bytes.length >= 18 &&
      Seq(12, 40, 56, 108, 124).contains(at(14)) && at(15) == 0 &&
      at(16) == 0 && at(17) == 0) "image/bmp" // "BM" alone is weak magic:
      // require a known DIB header size so text starting "BM…" stays text
    else if (bytes.length >= 2 && at(0) == 0x1F && at(1) == 0x8B)
      "application/gzip"
    else if (ascii(0, "WARC/")) "application/warc"
    else if (bytes.nonEmpty && bytes.take(512).forall { b =>
      val u = b & 0xFF
      (u >= 0x20 && u < 0x7F) || u == '\t' || u == '\n' || u == '\r'
    }) "text/plain"
    else "application/octet-stream"
  }
}
