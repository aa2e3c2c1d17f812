package graft.raster

import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** Cheap L tiles, pixel i of tile (x, y) = (7x + 3y + i mod 256 + salt)
  * mod 256; every fetch adds 1 to `fetches`, and the tiles in `dead` fail
  * (F6).
  */
final class CountingStore(fetches: LongAccumulator, salt: Int,
    dead: Set[(Long, Long)] = Set.empty) extends TileStore {
  val tileSize = 256
  def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
    fetches.add(1L)
    if (dead((x, y))) None
    else Some(Tile(256, 256, "L",
      Array.tabulate(256 * 256)(i => ((7 * x + 3 * y + i % 256 + salt) % 256).toInt)))
  }
}

/** T4-T7 + F6 — value functions, tile cache semantics, and the tile-grouped
  * median pass (dataproviders.py:59-105, update_ways_metadata.py:12-35).
  */
class RasterSpec extends SparkSpec {
  import spark.implicits._

  test("strava value = gray/255 (T4)") {
    val t = Tile(2, 2, "L", Array(0, 128, 255, 64))
    ValueFns.strava(t, 0, 0) shouldBe 0.0
    ValueFns.strava(t, 1, 1) shouldBe 64 / 255.0
    ValueFns.strava(t, 1, 0) shouldBe 128 / 255.0 // row-major (px, py)
  }

  test("greenery absolute: proportion of green-dominant pixels in crop (T5)") {
    // 256×256 all-green tile → every crop pixel green-dominant → 1.0
    val green = Tile(256, 256, "RGB", Array.fill(256 * 256)(0x00ff00))
    ValueFns.greeneryAbsolute(green, 128, 128) shouldBe 1.0
    // all-red → 0.0
    val red = Tile(256, 256, "RGB", Array.fill(256 * 256)(0xff0000))
    ValueFns.greeneryAbsolute(red, 128, 128) shouldBe 0.0
    // crop clamps at tile edges without error
    ValueFns.greeneryAbsolute(green, 0, 0) shouldBe 1.0
    ValueFns.greeneryAbsolute(green, 255, 255) shouldBe 1.0
  }

  test("greenery relative (T6, reference dead code): mean-based, /200 scale") {
    val green = Tile(256, 256, "RGB", Array.fill(256 * 256)(0x00c800)) // g=200
    ValueFns.greeneryRelative(green, 128, 128) shouldBe 1.0
    val dim = Tile(256, 256, "RGB", Array.fill(256 * 256)(0x006400)) // g=100
    ValueFns.greeneryRelative(dim, 128, 128) shouldBe 0.5
  }

  test("SyntheticTileStore is deterministic and mode-consistent") {
    val s = new SyntheticTileStore(256, "L", seed = 7)
    val a = s.fetch(1, 2, 3).get
    val b = s.fetch(1, 2, 3).get
    a.pixels.toSeq shouldBe b.pixels.toSeq
    all(a.pixels.toSeq) should (be >= 0 and be <= 255)
    s.fetch(9, 9, 3).get.pixels.toSeq should not be a.pixels.toSeq
  }

  test("CachingTileStore fetches each tile once (T7 cache contract)") {
    val counting = new TileStore {
      val tileSize = 4
      var calls = 0
      def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
        calls += 1
        Some(Tile(4, 4, "L", Array.fill(16)((x + y).toInt)))
      }
    }
    val cached = new CachingTileStore(counting, capacity = 8)
    for (_ <- 1 to 5) cached.fetch(1, 1, 2)
    for (_ <- 1 to 5) cached.fetch(2, 1, 2)
    counting.calls shouldBe 2
    cached.hits shouldBe 8
    cached.misses shouldBe 2
  }

  test("missing tile → null samples excluded, other tiles unaffected (F6)") {
    val store = new SyntheticTileStore(256, "L", seed = 42,
      missing = Some((0L, 0L, 1)))
    // two points in tile (0,0) at z=1 (west hemisphere, north), two in (1,1)
    val coords = Seq(
      (1L, -90.0, 40.0), (1L, -91.0, 41.0),
      (2L, 90.0, -40.0), (2L, 91.0, -41.0)
    ).toDF("gid", "lng", "lat")
    val out = RasterSampler.medianPass(coords, store, 1, ValueFns.strava, "v")
    val rows = out.collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(2L) // gid 1's tile failed → dropped
    rows.head.getDouble(1) shouldBe 1.0 // only survivor normalizes to 1
  }

  test("medianPass: exact median per gid, normalized by global max (A1-A3)") {
    // Constant-value store: value = (x+y) % 256 / 255 for all pixels.
    val store = new TileStore {
      val tileSize = 256
      def fetch(x: Long, y: Long, z: Int): Option[Tile] =
        Some(Tile(256, 256, "L", Array.fill(256 * 256)(((x + y) % 256).toInt)))
    }
    // gid 1 spans lng so its two points land in tiles (0,0) and (1,0) at z=1:
    // values 0/255 and 1/255 → median 0.5/255. gid 2 in tile (1,1): 2/255.
    val coords = Seq(
      (1L, -90.0, 40.0), (1L, 90.0, 40.0), (2L, 90.0, -40.0)
    ).toDF("gid", "lng", "lat")
    val out = RasterSampler.medianPass(coords, store, 1, ValueFns.strava, "v")
      .orderBy("gid").collect()
    // normalization: max median is gid 2's 2/255 → gid1 = 0.25, gid2 = 1.0
    out.map(_.getDouble(1)).toSeq shouldBe Seq(0.25, 1.0)
  }

  test("approx medianPass (100 TB path) tracks the exact pass") {
    val store = new SyntheticTileStore(256, "L", seed = 42)
    val coords = (1 to 200).map(i =>
      ((i % 7).toLong, -118.0 + i * 0.001, 34.0 + i * 0.0007))
      .toDF("gid", "lng", "lat")
    val exact = RasterSampler
      .medianPass(coords, store, 12, ValueFns.strava, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val approx = RasterSampler
      .medianPass(coords, store, 12, ValueFns.strava, "v", exact = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exact.keySet shouldBe approx.keySet
    exact.foreach { case (g, v) => approx(g) shouldBe v +- 0.11 }
  }

  /** (lng, lat) at fraction (fx, fy) of z15 slippy tile (tx, ty). */
  private def inTile15(tx: Long, ty: Long, fx: Double, fy: Double): (Double, Double) = {
    val n = 1 << 15
    val lng = (tx + fx) / n * 360.0 - 180.0
    val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * (ty + fy) / n))))
    (lng, lat)
  }

  private def collectByGid(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.collect().map { r =>
      r.getAs[Long]("gid") -> cols.map(c => Option(r.getAs[java.lang.Double](c)).map(_.doubleValue))
    }.toMap

  test("medians: one fetch per tile per pass, over far more tiles than a 64-entry LRU") {
    // 20×20 = 400 z15 tiles, three points in each, visited round-robin so a
    // tile's points arrive far apart; gid k covers tiles 2k and 2k+1.
    val tiles = for (i <- 0L until 20L; j <- 0L until 20L) yield (5620L + i, 13060L + j)
    val coords = (for (f <- Seq(0.2, 0.5, 0.8); ((tx, ty), k) <- tiles.zipWithIndex) yield {
      val (lng, lat) = inTile15(tx, ty, f, f)
      ((k / 2).toLong, lng, lat)
    }).toDF("gid", "lng", "lat")
    val distinct = RasterSampler.address(coords, 15).select("tx", "ty").distinct().count()
    distinct shouldBe 400L
    val (fa, fb) = (spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator)
    val passes = Seq(
      RasterPass("a", new CountingStore(fa, 0), 15, ValueFns.strava),
      RasterPass("b", new CountingStore(fb, 101), 15, ValueFns.strava))
    val both = collectByGid(RasterSampler.medians(coords, passes), "a", "b")
    fa.value shouldBe distinct
    fb.value shouldBe distinct
    both.size shouldBe 200
    // Same values as one pass at a time (each its own medianPass).
    val (ga, gb) = (spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator)
    val a = collectByGid(RasterSampler.medianPass(coords, new CountingStore(ga, 0), 15,
      ValueFns.strava, "a"), "a")
    val b = collectByGid(RasterSampler.medianPass(coords, new CountingStore(gb, 101), 15,
      ValueFns.strava, "b"), "b")
    ga.value shouldBe distinct
    gb.value shouldBe distinct
    both shouldBe a.map { case (g, v) => g -> (v ++ b(g)) }
  }

  test("medians: a pass without samples reads null; a gid without any is absent (F6)") {
    val (t1, t2, t3) = ((5620L, 13060L), (5621L, 13060L), (5622L, 13061L))
    val pts = Seq(1L -> t1, 1L -> t1, 2L -> t2, 3L -> t3, 3L -> t3).zipWithIndex.map {
      case ((g, (tx, ty)), i) =>
        val (lng, lat) = inTile15(tx, ty, 0.1 + 0.15 * i, 0.3)
        (g, lng, lat)
    }
    val acc = spark.sparkContext.longAccumulator
    val out = collectByGid(RasterSampler.medians(pts.toDF("gid", "lng", "lat"), Seq(
      RasterPass("a", new CountingStore(acc, 0, dead = Set(t2)), 15, ValueFns.strava),
      RasterPass("b", new CountingStore(acc, 9, dead = Set(t1, t2)), 15, ValueFns.strava))),
      "a", "b")
    out.keySet shouldBe Set(1L, 3L) // every tile of gid 2 failed in both passes
    out(1L)(0) shouldBe defined
    out(1L)(1) shouldBe None // pass b failed gid 1's only tile
    out(3L).flatten.size shouldBe 2
    out.values.flatMap(_(1)).max shouldBe 1.0 // b normalizes over gid 3 only
    acc.value shouldBe 6L // three tiles, two passes
  }

  test("medians: at least one pass is required") {
    val coords = Seq((1L, 0.0, 0.0)).toDF("gid", "lng", "lat")
    val e = intercept[IllegalArgumentException](RasterSampler.medians(coords, Nil))
    e.getMessage should include("at least one pass")
  }

  test("medians: pass columns must be distinct") {
    val coords = Seq((1L, 0.0, 0.0)).toDF("gid", "lng", "lat")
    val store = new SyntheticTileStore(256, "L")
    val e = intercept[IllegalArgumentException](RasterSampler.medians(coords, Seq(
      RasterPass("v", store, 12, ValueFns.strava), RasterPass("v", store, 15, ValueFns.strava))))
    e.getMessage should include("distinct")
  }

  test("medians: no pass column may be named gid") {
    val coords = Seq((1L, 0.0, 0.0)).toDF("gid", "lng", "lat")
    val e = intercept[IllegalArgumentException](RasterSampler.medianPass(
      coords, new SyntheticTileStore(256, "L"), 12, ValueFns.strava, "gid"))
    e.getMessage should include("`gid` is the key")
  }

  // --- FileTileStore: real ImageIO decode of PNG bytes (S3 parity) ---

  /** Write the synthetic store's tile (x,y,z) as a real PNG under
    * dir/z/x/y.png — generated by the test, never copied from anywhere.
    */
  private def writePng(dir: java.nio.file.Path, store: SyntheticTileStore,
      x: Long, y: Long, z: Int): Unit = {
    val t = store.fetch(x, y, z).get
    val img = new java.awt.image.BufferedImage(
      t.width, t.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < t.pixels.length) {
      img.setRGB(i % t.width, i / t.width, t.pixels(i))
      i += 1
    }
    val f = dir.resolve(s"$z/$x/$y.png")
    java.nio.file.Files.createDirectories(f.getParent)
    javax.imageio.ImageIO.write(img, "png", f.toFile)
  }

  test("FileTileStore decodes PNG bytes identical to the source pixels (RGB)") {
    val dir = java.nio.file.Files.createTempDirectory("tiles_")
    val synth = new SyntheticTileStore(256, "RGB", seed = 42)
    writePng(dir, synth, 1, 1, 1)
    val fetched = new FileTileStore(dir.toString).fetch(1, 1, 1).get
    fetched.width shouldBe 256
    fetched.mode shouldBe "RGB"
    fetched.pixels.toSeq shouldBe synth.fetch(1, 1, 1).get.pixels.toSeq
  }

  test("FileTileStore mode L matches PIL's ITU-R 601-2 fixed-point luma") {
    val dir = java.nio.file.Files.createTempDirectory("tiles_")
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8040) // r=255 g=128 b=64
    img.setRGB(1, 0, 0xffffff)
    val f = dir.resolve("1/0/0.png")
    java.nio.file.Files.createDirectories(f.getParent)
    javax.imageio.ImageIO.write(img, "png", f.toFile)
    val t = new FileTileStore(dir.toString, tileSize = 2, mode = "L")
      .fetch(0, 0, 1).get
    t.pixels(0) shouldBe ((255 * 19595 + 128 * 38470 + 64 * 7471 + 0x8000) >> 16)
    t.pixels(1) shouldBe 255
  }

  test("FileTileStore: missing file and corrupt bytes both yield None (F6)") {
    val dir = java.nio.file.Files.createTempDirectory("tiles_")
    val store = new FileTileStore(dir.toString)
    store.fetch(5, 5, 5) shouldBe None // no file
    val f = dir.resolve("2/3/4.png")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, "not a png".getBytes)
    store.fetch(3, 4, 2) shouldBe None // undecodable bytes
  }

  test("enrichment pass over real PNGs matches the synthetic store exactly") {
    val dir = java.nio.file.Files.createTempDirectory("tiles_")
    val synth = new SyntheticTileStore(256, "RGB", seed = 7)
    // z=1 has 4 tiles; materialize them all as PNGs.
    for (x <- 0L to 1L; y <- 0L to 1L) writePng(dir, synth, x, y, 1)
    val file = new FileTileStore(dir.toString)
    val coords = Seq(
      (1L, -90.0, 40.0), (1L, 90.0, 40.0), (2L, 90.0, -40.0), (2L, 91.0, -41.0)
    ).toDF("gid", "lng", "lat")
    val viaPng = RasterSampler
      .medianPass(coords, file, 1, ValueFns.greeneryAbsolute, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaSynth = RasterSampler
      .medianPass(coords, synth, 1, ValueFns.greeneryAbsolute, "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaPng shouldBe viaSynth // identical medians: decode is lossless
  }

  test("address() agrees with Mercator on tile/pixel keys") {
    val coords = Seq((1L, -118.1225, 34.1385)).toDF("gid", "lng", "lat")
    val r = RasterSampler.address(coords, 12).head()
    // Caltech-area lng/lat at z12 → known slippy tile x=704, y=1634 (the
    // Strava/Google tile scheme the reference fetches at zoom 12).
    r.getAs[Long]("tx") shouldBe 704L
    r.getAs[Long]("ty") shouldBe 1634L
    r.getAs[Int]("px") should (be >= 0 and be < 256)
    r.getAs[Int]("py") should (be >= 0 and be < 256)
  }
}
