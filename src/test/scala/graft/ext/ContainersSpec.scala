package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ext.Multimodal.Frame

/** Real-container codecs: byte-exact round trips plus the layout traps
  * (WAV chunk walk past a LIST chunk, BMP bottom-up + row padding) that
  * distinguish a real parser from an offset-hardcoding one. The
  * Spark-side end-to-end proof is q188/q189's oracle hash.
  */
class ContainersSpec extends AnyFunSuite with Matchers {

  test("wav: samples round-trip exactly through the RIFF container") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 159, 160, 161, 4096)) {
      val samples = Array.fill(n)(rnd.nextInt(65536) - 32768)
      Containers.decodeWav(Containers.wavBytes(samples)) shouldBe samples
    }
  }

  test("wav: the container really carries a foreign LIST chunk before data") {
    val bytes = Containers.wavBytes(Array(1, -1, 32767, -32768))
    // "LIST" must appear in the byte stream BEFORE "data" — the trap a
    // data-at-byte-44 parser falls into
    def find(tag: String): Int = {
      val t = tag.getBytes("US-ASCII")
      bytes.indices.indexWhere(i => i + 4 <= bytes.length &&
        t.indices.forall(k => bytes(i + k) == t(k)))
    }
    val list = find("LIST")
    val data = find("data")
    list should be > 0
    data should be > list
    data should not be 36 // data chunk is NOT where the naive layout puts it
  }

  test("wav: corrupt magic and truncated forms are rejected loudly") {
    val good = Containers.wavBytes(Array(5, 6, 7))
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeWav(badMagic)
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeWav(good.take(20))
  }

  test("bmp: frames round-trip exactly, including padded-row widths") {
    val rnd = new scala.util.Random(11)
    for ((w, h) <- Seq((13, 11), (16, 9), (21, 17), (1, 1), (8, 8))) {
      val f = Frame(w, h, Array.fill(w * h)(rnd.nextInt(256)))
      val back = Containers.decodeBmp(Containers.bmpBytes(f))
      back.width shouldBe w
      back.height shouldBe h
      back.pixels shouldBe f.pixels
    }
  }

  test("bmp: corner pixels land where they started (bottom-up honored)") {
    // distinct corners: a decoder that reads rows top-down flips them
    val w = 5; val h = 3
    val px = Array.fill(w * h)(128)
    px(0) = 10 // top-left
    px(w - 1) = 20 // top-right
    px((h - 1) * w) = 30 // bottom-left
    px(h * w - 1) = 40 // bottom-right
    val back = Containers.decodeBmp(Containers.bmpBytes(Frame(w, h, px)))
    back.pixels(0) shouldBe 10
    back.pixels(w - 1) shouldBe 20
    back.pixels((h - 1) * w) shouldBe 30
    back.pixels(h * w - 1) shouldBe 40
  }

  test("avi: multi-frame round-trip exact; dims come from strf, not frames") {
    val rnd = new scala.util.Random(13)
    for ((w, h, n) <- Seq((13, 11, 3), (21, 17, 1), (5, 3, 7))) {
      val frames = (0 until n).map(_ => Frame(w, h, Array.fill(w * h)(rnd.nextInt(256))))
      val back = Containers.decodeAvi(Containers.aviBytes(frames))
      back.length shouldBe n
      back.zip(frames).foreach { case (b, f) =>
        b.width shouldBe w
        b.height shouldBe h
        b.pixels shouldBe f.pixels
      }
    }
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeAvi(Containers.wavBytes(Array(1, 2, 3))) // WAVE ≠ AVI
  }

  test("bmp: non-24bpp and bad magic rejected") {
    val good = Containers.bmpBytes(Frame(4, 4, Array.fill(16)(7)))
    val badMagic = good.clone(); badMagic(0) = 'Z'.toByte
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeBmp(badMagic)
    val badBpp = good.clone(); badBpp(28) = 32 // bpp field in the info header
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeBmp(badBpp)
  }

  test("png: frames round-trip exactly through real DEFLATE compression") {
    val rnd = new scala.util.Random(13)
    for ((w, h) <- Seq((12, 10), (22, 14), (1, 1), (8, 8), (64, 64))) {
      val f = Frame(w, h, Array.fill(w * h)(rnd.nextInt(256)))
      val bytes = Containers.pngBytes(f)
      // real PNG signature on the wire
      (bytes(0) & 0xff) shouldBe 0x89
      new String(bytes.slice(1, 4), "US-ASCII") shouldBe "PNG"
      val back = Containers.decodePng(bytes)
      back.width shouldBe w
      back.height shouldBe h
      back.pixels shouldBe f.pixels
    }
  }

  test("png: the container genuinely compresses redundant content") {
    // a constant 64×64 image deflates far below its 4096 raw bytes —
    // proof the payload rides a real compression stage, unlike BMP
    val flat = Frame(64, 64, Array.fill(64 * 64)(200))
    Containers.pngBytes(flat).length should be < 1024
    Containers.bmpBytes(flat).length should be > 4096
  }

  test("rgb png: lossless truecolour round-trip; luma matches the raster formula") {
    val w = 13; val h = 9 // odd sizes: no row-stride luck
    val rgb = Array.tabulate(w * h)(i =>
      (((i * 37) % 256) << 16) | (((i * 59 + 7) % 256) << 8) | ((i * 83 + 11) % 256))
    val bytes = Containers.pngBytesRgb(w, h, rgb)
    // real PNG signature on the wire
    (bytes(0) & 0xff) shouldBe 0x89
    new String(bytes.slice(1, 4), "US-ASCII") shouldBe "PNG"
    val (w2, h2, back) = Containers.decodePngRgb(bytes)
    (w2, h2) shouldBe ((w, h))
    back.toSeq shouldBe rgb.toSeq // LOSSLESS: every channel byte exact
    // luma ≡ the FileTileStore mode-"L" fixed-point formula
    val lf = Containers.lumaFrame(w, h, rgb)
    lf.pixels.zip(rgb).foreach { case (l, v) =>
      val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
      l shouldBe ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16)
      l should (be >= 0 and be <= 255)
    }
    // loud failures: out-of-range packed pixel, gray payload to the RGB
    // decoder, RGB payload to the gray decoder
    an[IllegalArgumentException] should be thrownBy
      Containers.pngBytesRgb(2, 2, Array(0, 1, 2, 0x1000000))
    an[IllegalArgumentException] should be thrownBy
      Containers.decodePngRgb(Containers.pngBytes(Frame(2, 2, Array.fill(4)(7))))
    an[IllegalArgumentException] should be thrownBy
      Containers.decodePng(bytes)
  }

  test("jpeg: genuinely lossy but bounded error on smooth content") {
    // smooth gradient: baseline DCT at q=0.9 stays within a few units
    val w = 40; val h = 32
    val f = Frame(w, h, Array.tabulate(w * h)(i =>
      ((i % w) * 3 + (i / w) * 2) % 200))
    val bytes = Containers.jpegBytes(f, 0.9f)
    // real JFIF on the wire: SOI marker
    (bytes(0) & 0xff) shouldBe 0xff
    (bytes(1) & 0xff) shouldBe 0xd8
    val back = Containers.decodeJpeg(bytes)
    back.width shouldBe w
    back.height shouldBe h
    val errs = f.pixels.zip(back.pixels).map {
      case (a, b) => math.abs(a - b)
    }.sorted
    errs.last should be > 0 // lossy — a PNG-style exact round-trip would be
    // ...but bounded: the content survives. The bounds pin behavior of
    // the HOST JDK's ImageIO JPEG encoder (quantization tables are
    // implementation-defined — ITU T.81 specifies the decoder, not the
    // tables), so they are asserted on the p95 (robust to a JDK swap
    // shifting the worst pixel) with a deliberately loose max as the
    // sanity ceiling. A failure here after a JRE change is an
    // environment shift, not a codec regression.
    errs(errs.length * 95 / 100) should be <= 24
    errs.last should be <= 64
  }

  test("jpeg: bad magic and foreign containers rejected loudly") {
    val good = Containers.jpegBytes(Frame(8, 8, Array.fill(64)(128)))
    val badMagic = good.clone(); badMagic(0) = 0
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeJpeg(badMagic)
    an[IllegalArgumentException] should be thrownBy
      Containers.decodeJpeg(Containers.pngBytes(Frame(2, 2, Array.fill(4)(1))))
  }

  test("png: bad signature and foreign containers rejected loudly") {
    val good = Containers.pngBytes(Frame(4, 4, Array.fill(16)(7)))
    val badMagic = good.clone(); badMagic(0) = 'Q'.toByte
    an[IllegalArgumentException] should be thrownBy
      Containers.decodePng(badMagic)
    an[IllegalArgumentException] should be thrownBy
      Containers.decodePng(Containers.bmpBytes(Frame(2, 2, Array.fill(4)(1))))
    an[IllegalArgumentException] should be thrownBy
      Containers.pngBytes(Frame(2, 2, Array(0, 1, 2, 300))) // out-of-range px
    an[IllegalArgumentException] should be thrownBy
      Containers.jpegBytes(Frame(2, 2, Array(0, 1, 2, 300)))
  }

  test("sniffMime: every own container + adversarial non-payloads") {
    import Containers.sniffMime
    sniffMime(Containers.wavBytes(Array(1, 2, 3))) shouldBe "audio/x-wav"
    sniffMime(Containers.aviBytes(Seq(Frame(2, 2, Array(0, 1, 2, 3))))) shouldBe
      "video/x-msvideo"
    sniffMime(Containers.bmpBytes(Frame(3, 2, Array(0, 1, 2, 3, 4, 5)))) shouldBe
      "image/bmp"
    sniffMime(Containers.pngBytes(Frame(2, 2, Array(0, 50, 100, 200)))) shouldBe
      "image/png"
    sniffMime(Containers.jpegBytes(Frame(8, 8, Array.fill(64)(128)))) shouldBe
      "image/jpeg"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("x".getBytes); gz.close()
    sniffMime(bos.toByteArray) shouldBe "application/gzip"
    sniffMime("WARC/1.0\r\nWARC-Type: conversion\r\n".getBytes("US-ASCII")) shouldBe
      "application/warc"
    sniffMime("ordinary prose, tabs\tand\nnewlines".getBytes("US-ASCII")) shouldBe
      "text/plain"
    // adversarial: weak or foreign magics must NOT route to a decoder
    sniffMime(Array.empty[Byte]) shouldBe "application/octet-stream"
    sniffMime("RIFF1234WEBP".getBytes("US-ASCII")) shouldBe
      "application/octet-stream" // foreign RIFF form type
    sniffMime("RIFFxxWA".getBytes("US-ASCII")) shouldBe
      "text/plain" // truncated before the form type: not a container,
      // and all-printable bytes ARE plausibly text (file(1) agrees)
    sniffMime("BMW dealers near me".getBytes("US-ASCII")) shouldBe
      "text/plain" // "BM" prose: DIB-size check keeps it text
    val pngTrunc = Containers.pngBytes(Frame(2, 2, Array(0, 1, 2, 3))).take(7)
    sniffMime(pngTrunc) shouldBe "application/octet-stream"
    sniffMime(Array[Byte](0x1F, 0x00)) shouldBe "application/octet-stream"
    sniffMime(Array[Byte](0, 65, 66)) shouldBe "application/octet-stream"
  }
}
