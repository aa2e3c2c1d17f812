package graft.raster

import scala.collection.mutable

/** A decoded raster tile: row-major pixels, `mode` L (0..255 gray) or RGB
  * (packed 0xRRGGBB). The Spark-side stand-in for the reference's PIL
  * image (`dataproviders.py:99-102`).
  */
case class Tile(width: Int, height: Int, mode: String, pixels: Array[Int]) {
  @inline def apply(px: Int, py: Int): Int = pixels(py * width + px)
}

/** T3 — URL template substitution (`dataproviders.py:17,96`): `${x}/${y}/
  * ${z}` placeholders → concrete tile URL. Driver/TileStore-side string
  * work, mirroring Python's string.Template.substitute.
  */
object UrlTemplate {
  def substitute(template: String, x: Long, y: Long, z: Int): String =
    template
      .replace("${x}", x.toString)
      .replace("${y}", y.toString)
      .replace("${z}", z.toString)
}

/** Pluggable tile source (`dataproviders.py:10-20` provider hierarchy).
  * Fetch failure → None: the reference swallows fetch errors
  * (`dataproviders.py:103-105`); we propagate null values for that tile's
  * samples (documented deviation — the reference would crash in value_fn).
  *
  * Implementations must be Serializable: instances ship inside
  * mapPartitions closures to executors.
  */
trait TileStore extends Serializable {
  def tileSize: Int
  def fetch(x: Long, y: Long, z: Int): Option[Tile]
}

/** Deterministic procedural raster (FIXTURES.md B5): pixel values from a
  * 64-bit mix of (x, y, z, px, py, seed). Zero-egress test/bench stand-in
  * for the HTTP tile CDN; one designated missing tile pins null semantics.
  */
class SyntheticTileStore(
    val tileSize: Int = 256,
    mode: String = "L",
    seed: Long = 42L,
    missing: Option[(Long, Long, Int)] = None) extends TileStore {

  private def mix(vals: Long*): Long = {
    var h = seed ^ 0x9e3779b97f4a7c15L
    for (v <- vals) {
      h ^= v + 0x9e3779b97f4a7c15L + (h << 6) + (h >>> 2)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
    }
    h
  }

  override def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
    if (missing.contains((x, y, z))) return None
    val px = new Array[Int](tileSize * tileSize)
    var i = 0
    while (i < px.length) {
      val v = mix(x, y, z, i)
      px(i) =
        if (mode == "L") (v & 0xff).toInt
        else (v & 0xffffff).toInt
      i += 1
    }
    Some(Tile(tileSize, tileSize, mode, px))
  }
}

/** File-backed tile source decoding real PNG/JPEG bytes via
  * `javax.imageio` — the zero-egress twin of the reference's HTTP
  * provider (`dataproviders.py:96-101`: fetch → `Image.open` →
  * `img.convert(**convert_args)`). The directory layout mirrors the URL
  * template (`${z}/${x}/${y}.png` by default, T3 substitution), mode
  * conversion mirrors PIL's `convert('L')` (ITU-R 601-2 luma with PIL's
  * exact fixed-point coefficients: (r·19595 + g·38470 + b·7471 +
  * 0x8000) >> 16) or `convert('RGB')` (packed 0xRRGGBB, alpha dropped),
  * and ANY read/decode failure returns None — the reference swallows
  * fetch errors the same way (`dataproviders.py:103-105`).
  *
  * Swap this for an HTTP-fetching TileStore in production; everything
  * downstream (cache, sampler, value fns) is shared.
  */
class FileTileStore(
    baseDir: String,
    template: String = "${z}/${x}/${y}.png",
    val tileSize: Int = 256,
    mode: String = "RGB") extends TileStore {

  override def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
    val f = new java.io.File(baseDir, UrlTemplate.substitute(template, x, y, z))
    try {
      val img = javax.imageio.ImageIO.read(f) // null = no reader/not found
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val argb = img.getRGB(0, 0, w, h, null, 0, w) // one bulk read
        val px = new Array[Int](w * h)
        var i = 0
        while (i < px.length) {
          val v = argb(i)
          px(i) =
            if (mode == "L") {
              val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
              (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
            } else v & 0xffffff
          i += 1
        }
        Some(Tile(w, h, mode, px))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** Per-process LRU cache around any TileStore — the analog of the
  * reference's per-run dict cache (`dataproviders.py:79-83`), for callers
  * that fetch in arbitrary order. `RasterSampler` does not need it: it sorts
  * its rows by tile and holds only the current one.
  */
class CachingTileStore(underlying: TileStore, capacity: Int = 64) extends TileStore {
  override def tileSize: Int = underlying.tileSize

  @transient private lazy val cache =
    new mutable.LinkedHashMap[(Long, Long, Int), Option[Tile]]

  @transient private var hits0 = 0L
  @transient private var misses0 = 0L
  def hits: Long = hits0
  def misses: Long = misses0

  override def fetch(x: Long, y: Long, z: Int): Option[Tile] = synchronized {
    val key = (x, y, z)
    cache.get(key) match {
      case Some(t) =>
        hits0 += 1
        // LRU touch
        cache.remove(key); cache.put(key, t); t
      case None =>
        misses0 += 1
        val t = underlying.fetch(x, y, z)
        if (cache.size >= capacity) cache.remove(cache.head._1)
        cache.put(key, t)
        t
    }
  }
}

/** The reference's pluggable value functions (`value_fn(img, px, py)`). */
object ValueFns {

  /** T4 strava_value (`update_ways_metadata.py:64-65`): gray/255 ∈ [0,1]. */
  def strava(t: Tile, px: Int, py: Int): Double = t(px, py) / 255.0

  /** T5 greenery_value_absolute (`update_ways_metadata.py:109-118`): mean
    * over the ≤21×21 crop of clip(min(g−r, g−b), 0, 1) — i.e. the
    * proportion of green-dominant pixels. The crop clamps to literal 256
    * regardless of tile size, reproducing the reference's latent 512-px
    * bug as-spec'd (SURVEY §7 risks).
    */
  def greeneryAbsolute(t: Tile, px: Int, py: Int): Double = {
    val x0 = math.max(0, px - 10); val x1 = math.min(256, px + 10)
    val y0 = math.max(0, py - 10); val y1 = math.min(256, py + 10)
    var sum = 0.0; var n = 0
    var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) {
        val rgb = t(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        val v = math.min(g - r, g - b)
        sum += math.max(0, math.min(1, v)); n += 1
        x += 1
      }
      y += 1
    }
    if (n == 0) 0.0 else sum / n
  }

  /** T6 greenery_value_relative (`update_ways_metadata.py:103-107`) — dead
    * code in the reference (never called); implemented for parity. The
    * 1×1 bilinear resize of a crop is its mean.
    */
  def greeneryRelative(t: Tile, px: Int, py: Int): Double = {
    val x0 = math.max(0, px - 10); val x1 = math.min(256, px + 10)
    val y0 = math.max(0, py - 10); val y1 = math.min(256, py + 10)
    var r = 0.0; var g = 0.0; var b = 0.0; var n = 0
    var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) {
        val rgb = t(x, y)
        r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff; n += 1
        x += 1
      }
      y += 1
    }
    if (n == 0) 0.0
    else math.min(1.0, math.max(g / n - math.max(r / n, b / n), 0.0) / 200.0)
  }
}
