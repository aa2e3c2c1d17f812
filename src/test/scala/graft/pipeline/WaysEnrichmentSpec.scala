package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.osm.{OsmXml, RoutingGraph}
import graft.raster.Tile

/** A street grid the spec writes itself: `Rows` horizontal residential
  * ways (ids 10 + r) with a shape node between each pair of intersections,
  * `Cols` vertical footways (ids 100 + c), and one non-routable way across
  * the grid that shares two intersections. Every intersection is a vertex,
  * so the expected edges, gids and polylines are known without Spark.
  */
object StreetGrid {
  val Rows = 6
  val Cols = 6
  private val (lng0, lat0, dLng, dLat) = (-118.16, 34.12, 0.0041, 0.0033)

  private def crossing(r: Int, c: Int): (Long, Double, Double) =
    (1L + r * Cols + c, lng0 + c * dLng, lat0 + r * dLat)

  /** The shape node between crossings (r, c) and (r, c + 1). */
  private def shape(r: Int, c: Int): (Long, Double, Double) =
    (1000L + r * Cols + c, lng0 + (c + 0.5) * dLng, lat0 + r * dLat + 0.0004)

  /** gid → polyline (lng, lat), as `RoutingGraph.edges` must split it. */
  val edges: Map[Long, Seq[(Double, Double)]] = {
    def pt(n: (Long, Double, Double)) = (n._2, n._3)
    val horizontal = for (r <- 0 until Rows; s <- 1 until Cols) yield
      ((10L + r) * 65536 + s) -> Seq(crossing(r, s - 1), shape(r, s - 1), crossing(r, s)).map(pt)
    val vertical = for (c <- 0 until Cols; s <- 1 until Rows) yield
      ((100L + c) * 65536 + s) -> Seq(crossing(s - 1, c), crossing(s, c)).map(pt)
    (horizontal ++ vertical).toMap
  }

  /** Write the grid as OSM XML v0.6 to `dir/grid.osm`; returns its path. */
  def write(dir: java.nio.file.Path): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    def node(n: (Long, Double, Double)): Unit =
      sb ++= s"""  <node id="${n._1}" lat="${n._3}" lon="${n._2}" version="1"/>\n"""
    def way(id: Long, nds: Seq[Long], highway: String): Unit = {
      sb ++= s"""  <way id="$id" version="1">\n"""
      nds.foreach(nd => sb ++= s"""    <nd ref="$nd"/>\n""")
      sb ++= s"""    <tag k="highway" v="$highway"/>\n  </way>\n"""
    }
    for (r <- 0 until Rows; c <- 0 until Cols) node(crossing(r, c))
    for (r <- 0 until Rows; c <- 0 until Cols - 1) node(shape(r, c))
    for (r <- 0 until Rows) way(10L + r,
      (0 until Cols).flatMap(c => crossing(r, c)._1 +: (if (c < Cols - 1) Seq(shape(r, c)._1) else Nil)),
      "residential")
    for (c <- 0 until Cols) way(100L + c, (0 until Rows).map(r => crossing(r, c)._1), "footway")
    way(500L, Seq(crossing(0, 0)._1, crossing(Rows - 1, Cols - 1)._1), "proposed")
    sb ++= "</osm>\n"
    val f = dir.resolve("grid.osm")
    java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
    f.toString
  }
}

/** Golden end-to-end: the §3.1 enrichment pipeline on a spec-written
  * street grid with deterministic synthetic tiles → `ways_metadata`
  * semantics (popularity + greenery, normalized, FK-closed, highres pass
  * disabled — update_ways_metadata.py:128-144), checked against a
  * driver-side oracle. The reference sample extract, when present, keeps
  * its pinned checksum.
  */
class WaysEnrichmentSpec extends SparkSpec {

  private lazy val osm =
    StreetGrid.write(java.nio.file.Files.createTempDirectory("grid_"))

  private lazy val result = WaysEnrichment.runDefault(spark, osm).cache()

  private def byGid = result.collect().map(r =>
    r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  /** (lng, lat) → slippy tile and pixel, as `graft.geo.Mercator` defines it. */
  private def address(lng: Double, lat: Double, zoom: Int, size: Int) = {
    val wx = size * (0.5 + lng / 360.0)
    val siny = math.min(math.max(math.sin(lat * math.Pi / 180.0), -0.9999), 0.9999)
    val wy = size * (0.5 - StrictMath.log((1.0 + siny) / (1.0 - siny)) / (4.0 * math.Pi))
    val scale = math.pow(2.0, zoom)
    (math.floor(wx * scale / size).toLong, math.floor(wy * scale / size).toLong,
      math.floor((wx * scale) % size).toInt, math.floor((wy * scale) % size).toInt)
  }

  /** np.median semantics: the middle value, or the mean of the two. */
  private def npMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One pass computed on the driver from `SyntheticTileStore.fetch`:
    * per-gid median of the sampled values, divided by the column max.
    */
  private def oracle(pass: EnrichmentPass): Map[Long, Double] = {
    val tiles = scala.collection.mutable.Map.empty[(Long, Long), Tile]
    val med = StreetGrid.edges.map { case (gid, line) =>
      gid -> npMedian(line.map { case (lng, lat) =>
        val (tx, ty, px, py) = address(lng, lat, pass.zoom, pass.store.tileSize)
        val t = tiles.getOrElseUpdate((tx, ty), pass.store.fetch(tx, ty, pass.zoom).get)
        pass.valueFn(t, px, py)
      })
    }
    val mx = med.values.max
    med.map { case (g, v) => g -> (if (mx > 0) v / mx else v) }
  }

  test("produces one row per routable edge with both metric columns") {
    result.columns.toSeq shouldBe Seq("gid", "popularity", "greenery")
    result.count() shouldBe StreetGrid.edges.size.toLong
    byGid.keySet shouldBe StreetGrid.edges.keySet
  }

  test("matches the driver-side oracle: per-gid np.median / column max") {
    val Seq(pop, green) = WaysEnrichment.defaultPasses().filter(_.enabled).map(oracle)
    val got = byGid
    got.keySet shouldBe pop.keySet
    got.foreach { case (g, (p, gr)) =>
      withClue(s"gid $g:") {
        p shouldBe pop(g) +- 1e-12
        gr shouldBe green(g) +- 1e-12
      }
    }
    // The grid spreads over several z15 tiles, so greenery is not constant.
    green.values.toSet.size should be > 1
  }

  test("metrics are normalized to [0,1] with max exactly 1 (A2/A3)") {
    val r = result.agg(
      min("popularity"), max("popularity"),
      min("greenery"), max("greenery")).head()
    r.getDouble(0) should be >= 0.0
    r.getDouble(1) shouldBe 1.0 +- 1e-12
    r.getDouble(2) should be >= 0.0
    r.getDouble(3) shouldBe 1.0 +- 1e-12
  }

  test("FK contract: every gid references a routing edge (J4)") {
    val tables = OsmXml.parse(spark, osm)
    val edges = RoutingGraph.edges(
      RoutingGraph.routableWays(tables.ways), tables.nodes)
    result.join(edges, Seq("gid"), "left_anti").count() shouldBe 0L
  }

  test("pipeline is deterministic across runs (golden stability)") {
    val again = WaysEnrichment.runDefault(spark, osm)
    result.exceptAll(again).count() shouldBe 0L
    again.exceptAll(result).count() shouldBe 0L
  }

  test("disabled highres pass contributes no column (reference :138)") {
    result.columns should not contain "popularity_highres"
  }

  test("run fails loudly when no pass is enabled") {
    val off = WaysEnrichment.defaultPasses().map(_.copy(enabled = false))
    val e = intercept[IllegalArgumentException](WaysEnrichment.run(spark, osm, off))
    e.getMessage should include("at least one pass")
  }

  test("golden checksum is byte-stable across JVMs/sessions (SURVEY §5.3)") {
    assume(new java.io.File(TestSpark.ExampleOsm).exists())
    val h = WaysEnrichment.runDefault(spark, TestSpark.ExampleOsm)
      .select(concat_ws("|", col("gid"),
        round(col("popularity"), 9), round(col("greenery"), 9)).as("s"))
      .agg(md5(concat_ws("\n", sort_array(collect_list("s")))).as("h"))
      .head().getString(0)
    h shouldBe "f33c0c0f4378cabf4b492914023990aa"
  }
}
