package graft.pipeline

import graft.{SparkSpec, StreetGrid, SuiteTempDir, TestSpark}
import graft.queries.Scratch

/** §3.3 import pipeline end-to-end: every documented table materializes
  * with sane contents. Runs on the reference sample when it is present,
  * otherwise on the spec-written [[graft.StreetGrid]] with exact counts
  * worked out from the grid's element lists.
  */
class OsmImportSpec extends SparkSpec with SuiteTempDir {

  private def haveSample = new java.io.File(TestSpark.ExampleOsm).exists()

  private lazy val osm =
    if (haveSample) TestSpark.ExampleOsm
    else StreetGrid.write(suiteTempDir("grid_"))

  test("writeAll materializes the full documented table set") {
    Scratch.withTempDir("osmimport") { tmp =>
      val dir = tmp.toString
      OsmImport.writeAll(spark, osm, dir)
      val expected = Seq("planet_osm_point", "planet_osm_line",
        "planet_osm_polygon", "planet_osm_roads", "planet_osm_rels",
        "ways", "ways_vertices_pgr", "pointsOfInterest")
      val counts = expected.map(t => t -> spark.read.parquet(s"$dir/$t").count()).toMap
      if (haveSample) {
        counts.foreach { case (t, n) =>
          withClue(s"table $t:") { n should be > 0L }
        }
        // line/polygon split is a partition of tagged ways (minus rels)
        counts("planet_osm_roads") should be <= counts("planet_osm_line")
        // routing: more edges than source ways is expected after noding
        counts("ways") should be >= 400L
        counts("ways_vertices_pgr") should be >= 200L
      } else {
        import StreetGrid._
        def closed(w: Way) = w.nds.head == w.nds.last
        counts shouldBe Map(
          "planet_osm_point" -> nodes.count(_.tags.nonEmpty),
          // every grid way is tagged; its one closed way is a building
          "planet_osm_line" -> ways.count(!closed(_)),
          "planet_osm_polygon" -> ways.count(closed),
          // no low-zoom highway class on the grid: the rail line is the road
          "planet_osm_roads" -> ways.count(_.tags.get("railway").contains("rail")),
          "planet_osm_rels" -> relations.count(_.tags.get("type").contains("multipolygon")),
          "ways" -> edges.size,
          // every crossing ends or joins ways; shape nodes are interior
          "ways_vertices_pgr" -> Rows * Cols,
          "pointsOfInterest" -> nodes.count(_.tags.contains("amenity"))
        ).map { case (t, n) => t -> n.toLong }
      }
    }
  }

  test("snapped POIs reference existing edges with bounded distance") {
    val t = OsmImport.importAll(spark, osm)
    val snapped = t.pois.filter("edge_gid IS NOT NULL")
    snapped.count() should be > 0L
    snapped.filter("dist_m > 50.0").count() shouldBe 0L
    // FK: every referenced edge gid exists
    snapped.join(t.edges.select("gid"),
      snapped("edge_gid") === t.edges("gid"), "left_anti").count() shouldBe 0L
    if (!haveSample) {
      // the cafe sits due east of its footway segment: the equirectangular
      // distance is the longitude offset at the POI's latitude
      val poi = StreetGrid.Poi
      val (lng, _) = StreetGrid.edges(StreetGrid.PoiEdge).head
      val expected = math.abs(poi.lng - lng) * 111320.0 *
        math.cos(poi.lat * math.Pi / 180.0)
      val Array(r) = snapped.collect()
      r.getAs[Long]("pid") shouldBe poi.id
      r.getAs[Long]("edge_gid") shouldBe StreetGrid.PoiEdge
      r.getAs[Double]("dist_m") shouldBe expected +- 1e-6
    }
  }
}
