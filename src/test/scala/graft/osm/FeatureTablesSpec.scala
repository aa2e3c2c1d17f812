package graft.osm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** S6/F1-F4/J2/J6 — the osm2pgsql-documented feature split on synthetic
  * elements (semantics per README.md:33-38).
  */
class FeatureTablesSpec extends SparkSpec {
  import spark.implicits._

  private val nodes = Seq(
    (1L, -118.0, 34.0, Map("amenity" -> "cafe")),
    (2L, -118.1, 34.1, Map.empty[String, String]),
    (3L, -118.2, 34.2, Map.empty[String, String]),
    (4L, -118.3, 34.3, Map.empty[String, String])
  ).toDF("id", "lon", "lat", "tags")

  private val ways = Seq(
    // open way, tagged highway
    (10L, Seq(1L, 2L, 3L), Map("highway" -> "residential")),
    // closed way (first == last, 4 refs) → polygon
    (11L, Seq(1L, 2L, 3L, 1L), Map("building" -> "yes")),
    // closed ring explicitly tagged area=no → stays a line
    (12L, Seq(2L, 3L, 4L, 2L), Map("highway" -> "primary", "area" -> "no")),
    // untagged way → no feature at all
    (13L, Seq(3L, 4L), Map.empty[String, String])
  ).toDF("id", "nds", "tags")

  test("points = tagged nodes only (F1)") {
    val p = FeatureTables.points(nodes)
    p.select("osm_id").as[Long].collect().toSeq shouldBe Seq(1L)
    val g = p.select("geom.lng", "geom.lat").head()
    (g.getDouble(0), g.getDouble(1)) shouldBe ((-118.0, 34.0))
  }

  test("wayGeometries: a node id with several rows gives one point, newest version first") {
    // node 2: versions 1 and 3 (3 wins); node 3: two version-2 rows (the
    // smaller lon wins); node 4: no version at all on either row
    val dup = Seq(
      (1L, Option(1), -118.0, 34.0), (2L, Option(1), -117.0, 33.0),
      (2L, Option(3), -118.1, 34.1), (3L, Option(2), -118.2, 34.2),
      (3L, Option(2), -118.25, 34.2), (4L, None, -118.3, 34.3),
      (4L, None, -118.3, 34.35)
    ).toDF("id", "version", "lon", "lat")
    val w = Seq((20L, Seq(1L, 2L, 3L, 4L))).toDF("id", "nds")
    val g = FeatureTables.wayGeometries(w, dup).head()
    g.getAs[Long]("n_resolved") shouldBe 4L
    g.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("geom")
      .map(p => (p.getDouble(0), p.getDouble(1))) shouldBe
      Seq((-118.0, 34.0), (-118.1, 34.1), (-118.25, 34.2), (-118.3, 34.3))
  }

  test("wayGeometries resolves ordered coordinates (J2/A5/O1)") {
    val g = FeatureTables.wayGeometries(ways.filter($"id" === 10L), nodes)
    val geom = g.head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("geom")
    geom.map(_.getDouble(0)) shouldBe Seq(-118.0, -118.1, -118.2) // nd order
  }

  test("geometry assembly is input-order independent (permutation safety)") {
    val shuffled = nodes.orderBy(rand(7))
    val a = FeatureTables.wayGeometries(ways, nodes)
      .orderBy("way_id").collect().toSeq
    val b = FeatureTables.wayGeometries(ways.orderBy(rand(13)), shuffled)
      .orderBy("way_id").collect().toSeq
    a shouldBe b
  }

  test("closed-way predicate (F3) and line/polygon split (README.md:35,37)") {
    val feats = FeatureTables.taggedWayFeatures(ways, nodes)
    val closed = feats.filter($"is_closed").select("osm_id")
      .as[Long].collect().toSet
    closed shouldBe Set(11L, 12L)
    FeatureTables.polygons(feats).select("osm_id").as[Long].collect().toSet shouldBe
      Set(11L, 12L)
    // lines: open tagged way 10 + closed-but-area=no way 12
    FeatureTables.lines(feats).select("osm_id").as[Long].collect().toSet shouldBe
      Set(10L, 12L)
  }

  test("roads = low-zoom subset (F4)") {
    val feats = FeatureTables.taggedWayFeatures(ways, nodes)
    val roads = FeatureTables.roads(FeatureTables.lines(feats))
    roads.select("osm_id").as[Long].collect().toSet shouldBe Set(12L) // primary
  }

  test("relationPolygons resolves member ways with roles (J6)") {
    val rels = Seq(
      (20L, Map("type" -> "multipolygon", "landuse" -> "forest"),
        Seq(("way", 11L, "outer"), ("way", 12L, "inner"), ("node", 1L, "admin_centre")))
    ).toDF("id", "tags", "members")
      .withColumn("members",
        transform(col("members"), m => struct(
          m.getField("_1").as("mtype"), m.getField("_2").as("ref"),
          m.getField("_3").as("role"))))
    val geoms = FeatureTables.wayGeometries(ways, nodes)
    val polys = FeatureTables.relationPolygons(rels, geoms)
    val r = polys.head()
    r.getAs[Long]("osm_id") shouldBe 20L
    r.getAs[Seq[Any]]("outer_rings").size shouldBe 1
    r.getAs[Seq[Any]]("inner_rings").size shouldBe 1
  }
}
