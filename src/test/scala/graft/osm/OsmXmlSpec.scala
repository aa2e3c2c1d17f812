package graft.osm

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StreetGrid, SuiteTempDir, TestSpark}
import graft.queries.Scratch

/** S1 source contract. Against the reference's sample extract when it is
  * present (osm/example.osm: 6,223 nodes / 1,091 ways / 32 relations —
  * README.md:13, read in place from the read-only reference checkout);
  * otherwise against the spec-written [[graft.StreetGrid]], with exact
  * expectations taken from the grid's own element lists.
  */
class OsmXmlSpec extends SparkSpec with SuiteTempDir {

  private def haveSample = new java.io.File(TestSpark.ExampleOsm).exists()

  private lazy val tables = OsmXml.parse(spark,
    if (haveSample) TestSpark.ExampleOsm
    else StreetGrid.write(suiteTempDir("grid_")))

  private def members(r: Row): Seq[StreetGrid.Member] =
    r.getAs[scala.collection.Seq[Row]]("members").toSeq
      .map(m => StreetGrid.Member(m.getString(0), m.getLong(1), m.getString(2)))

  test("parses the full element counts of the sample extract") {
    val (nodes, ways, relations) =
      if (haveSample) (6223L, 1091L, 32L)
      else (StreetGrid.nodes.size.toLong, StreetGrid.ways.size.toLong,
        StreetGrid.relations.size.toLong)
    tables.nodes.count() shouldBe nodes
    tables.ways.count() shouldBe ways
    tables.relations.count() shouldBe relations
  }

  test("node attributes and tags parse (typed lat/lon/ts, tag map)") {
    val tagged = tables.nodes.filter("size(tags) > 0")
    if (haveSample) {
      tagged.count() should be > 0L
      val r = tables.nodes.filter(col("id") === 20827733L).head()
      r.getAs[Double]("lat") shouldBe 34.14 +- 0.01
      r.getAs[Double]("lon") shouldBe -118.12 +- 0.01
      assert(r.getAs[java.sql.Timestamp]("ts") != null)
    } else {
      tagged.count() shouldBe StreetGrid.nodes.count(_.tags.nonEmpty).toLong
      tables.nodes.filter(col("ts").isNull).count() shouldBe 0L
      val poi = StreetGrid.Poi
      val r = tables.nodes.filter(col("id") === poi.id).head()
      r.getAs[Double]("lat") shouldBe poi.lat
      r.getAs[Double]("lon") shouldBe poi.lng
      r.getAs[java.sql.Timestamp]("ts") shouldBe
        java.sql.Timestamp.from(java.time.Instant.parse(StreetGrid.Timestamp))
      r.getAs[scala.collection.Map[String, String]]("tags").toMap shouldBe poi.tags
    }
  }

  test("way nd refs stay ordered and resolve against nodes") {
    val way = tables.ways.filter("size(nds) >= 3").head()
    val nds = way.getAs[scala.collection.Seq[Long]]("nds")
    nds.distinct.size should be > 1
    // every nd of a random sample of ways resolves to a node in the extract
    val resolved = tables.ways.limit(50)
      .select(explode(col("nds")).as("nd"))
      .join(tables.nodes.select(col("id").as("nd")), Seq("nd"), "left_anti")
    resolved.count() shouldBe 0L
    if (!haveSample) {
      val parsed = tables.ways.collect().map(r =>
        r.getAs[Long]("id") -> r.getAs[scala.collection.Seq[Long]]("nds").toSeq).toMap
      parsed shouldBe StreetGrid.ways.map(w => w.id -> w.nds).toMap
    }
  }

  test("relations carry typed members with roles") {
    val withMembers = tables.relations.filter("size(members) > 0")
    withMembers.count() should be > 0L
    val restr = tables.relations
      .filter(element_at(col("tags"), "type") === "restriction")
    restr.count() should be > 0L
    val roles = restr.select(explode(col("members")).as("m"))
      .select(col("m.role")).distinct().collect().map(_.getString(0)).toSet
    roles should contain allOf ("from", "to")
    if (!haveSample) {
      val parsed = tables.relations.collect().map(r =>
        r.getAs[Long]("id") -> members(r)).toMap
      parsed shouldBe StreetGrid.relations.map(r => r.id -> r.members).toMap
    }
  }

  test("multipolygon relations exist with outer members (sample contract)") {
    val mp = tables.relations
      .filter(element_at(col("tags"), "type") === "multipolygon")
    if (haveSample) mp.count() should be > 0L
    else {
      val expected = StreetGrid.relations
        .filter(_.tags.get("type").contains("multipolygon"))
      val parsed = mp.collect().map(members).toSeq
      parsed shouldBe expected.map(_.members)
      parsed.flatten.map(_.role).toSet shouldBe Set("outer")
    }
  }

  test("parses a directory of regional extracts in parallel (S1 sharding)") {
    Scratch.withTempDir("osmshards") { dir =>
      def shard(name: String, body: String): Unit =
        java.nio.file.Files.write(dir.resolve(name),
          s"""<?xml version="1.0"?><osm version="0.6">$body</osm>""".getBytes)
      shard("region_a.osm",
        """<node id="1" lat="1.0" lon="2.0"/><way id="10"><nd ref="1"/></way>""")
      shard("region_b.osm",
        """<node id="2" lat="3.0" lon="4.0"/><relation id="20"><tag k="t" v="v"/></relation>""")
      val t = OsmXml.parse(spark, dir.toString)
      t.nodes.count() shouldBe 2L
      t.ways.count() shouldBe 1L
      t.relations.count() shouldBe 1L
    }
  }

  test("parseElements handles a minimal synthetic document") {
    val xml =
      """<?xml version="1.0"?>
        |<osm version="0.6">
        | <node id="1" lat="1.5" lon="2.5" version="3" visible="true"
        |       timestamp="2020-01-02T03:04:05Z"><tag k="a" v="b"/></node>
        | <node id="2" lat="1.6" lon="2.6"/>
        | <way id="10"><nd ref="1"/><nd ref="2"/><nd ref="1"/>
        |   <tag k="highway" v="residential"/></way>
        | <relation id="20"><member type="way" ref="10" role="outer"/>
        |   <tag k="type" v="multipolygon"/></relation>
        |</osm>""".stripMargin
    val els = OsmXml.parseElements(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8"))).toVector
    els.count(_.kind == "node") shouldBe 2
    val n1 = els.find(e => e.kind == "node" && e.id == 1L).get
    n1.lat shouldBe 1.5
    n1.tags shouldBe Map("a" -> "b")
    n1.version shouldBe Some(3)
    val w = els.find(_.kind == "way").get
    w.nds shouldBe Seq(1L, 2L, 1L) // order + duplicates preserved
    val r = els.find(_.kind == "relation").get
    r.members shouldBe Seq(OsmMember("way", 10L, "outer"))
  }
}
