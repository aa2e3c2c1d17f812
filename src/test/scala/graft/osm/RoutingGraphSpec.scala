package graft.osm

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

private object ExecutedPlan extends AdaptiveSparkPlanHelper

/** S7/J3 — osm2pgrouting-documented noding + POI snap (README.md:44-54). */
class RoutingGraphSpec extends SparkSpec {
  import spark.implicits._

  // A cross: way 100 runs A-B-C-D-E west→east, way 200 runs F-C-G south→north.
  // C (id 3) is shared → interior vertex; endpoints are vertices too.
  private val nodes = Seq(
    (1L, 0.000, 0.0), (2L, 0.001, 0.0), (3L, 0.002, 0.0),
    (4L, 0.003, 0.0), (5L, 0.004, 0.0),
    (6L, 0.002, -0.001), (7L, 0.002, 0.001)
  ).map { case (id, lon, lat) => (id, lon, lat, Map.empty[String, String]) }
    .toDF("id", "lon", "lat", "tags")

  private val ways = Seq(
    (100L, Seq(1L, 2L, 3L, 4L, 5L), Map("highway" -> "residential")),
    (200L, Seq(6L, 3L, 7L), Map("highway" -> "footway")),
    (300L, Seq(1L, 5L), Map("waterway" -> "river")) // not routable
  ).toDF("id", "nds", "tags")

  test("routableWays filters to highway classes") {
    RoutingGraph.routableWays(ways).select("id").as[Long].collect().toSet shouldBe
      Set(100L, 200L)
  }

  test("vertex detection: endpoints + shared interior node (README.md:44)") {
    val v = RoutingGraph.vertexNodeIds(RoutingGraph.routableWays(ways))
      .as[Long].collect().toSet
    v shouldBe Set(1L, 5L, 6L, 7L, 3L) // endpoints of both ways + shared C
  }

  test("edges split each way at its vertices, ends typed source/target") {
    val e = RoutingGraph.edges(RoutingGraph.routableWays(ways), nodes)
    val rows = e.select("osm_way_id", "source", "target").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // way 100 splits at C: (1→3), (3→5); way 200 splits at C: (6→3), (3→7)
    rows shouldBe Set((100L, 1L, 3L), (100L, 3L, 5L), (200L, 6L, 3L), (200L, 3L, 7L))
    // the split segments carry the interior polyline points
    val seg13 = e.filter(col("source") === 1L && col("target") === 3L).head()
    seg13.getAs[Seq[Any]]("geom").size shouldBe 3 // nodes 1,2,3
    // gids unique
    e.select("gid").distinct().count() shouldBe e.count()
  }

  test("edges runs the noding window once: one branch, no union of two") {
    val e = RoutingGraph.edges(RoutingGraph.routableWays(ways), nodes)
    e.collect()
    val windows = ExecutedPlan.collect(e.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    windows.size shouldBe 1
  }

  test("POI snap: nearest edge within bound; distant POI stays null (J3/F5)") {
    val e = RoutingGraph.edges(RoutingGraph.routableWays(ways), nodes)
    val pois = Seq(
      // ~11 m north of way-100's first segment
      (900L, 0.0005, 0.0001, Map("amenity" -> "cafe")),
      // ~1.1 km away → beyond within=50 m
      (901L, 0.01, 0.01, Map("shop" -> "bakery"))
    ).toDF("pid", "lng", "lat", "tags")
    val snapped = RoutingGraph.snapPois(pois, e)
    val near = snapped.filter($"pid" === 900L).head()
    assert(!near.isNullAt(near.fieldIndex("edge_gid")))
    near.getAs[Double]("dist_m") shouldBe 11.1 +- 1.0
    val far = snapped.filter($"pid" === 901L).head()
    assert(far.isNullAt(far.fieldIndex("edge_gid")))
  }

  test("pointSegmentMeters: perpendicular, beyond-end, and degenerate cases") {
    val df = Seq(
      // perpendicular foot inside the segment: 0.001° ≈ 111.32 m at lat 0
      (0.0005, 0.001, 0.0, 0.0, 0.001, 0.0),
      // beyond segment end → distance to endpoint B
      (0.002, 0.0, 0.0, 0.0, 0.001, 0.0),
      // zero-length segment → distance to the point A
      (0.001, 0.0, 0.0, 0.0, 0.0, 0.0)
    ).toDF("px", "py", "ax", "ay", "bx", "by")
    val d = df.select(RoutingGraph.pointSegmentMeters(
      col("px"), col("py"), col("ax"), col("ay"), col("bx"), col("by")))
      .collect().map(_.getDouble(0))
    d(0) shouldBe 111.32 +- 0.5
    d(1) shouldBe 111.32 +- 0.5
    d(2) shouldBe 111.32 +- 0.5
  }
}
