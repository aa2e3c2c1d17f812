package graft

/** An OSM extract the specs write themselves, so the OSM suites run without
  * any external sample file. The routable part is a street grid: `Rows`
  * horizontal residential ways (ids 10 + r) with a shape node between each
  * pair of intersections, `Cols` vertical footways (ids 100 + c), and one
  * non-routable way across the grid that shares two intersections. Every
  * intersection is a vertex, so the expected edges, gids and polylines are
  * known without Spark.
  *
  * Around it, one of each element shape the import tables split on, none
  * of them routable (so [[edges]] stays the whole routing graph):
  *  - every node carries a `timestamp`; the south-west crossing is tagged
  *    `highway=traffic_signals`;
  *  - a POI node (`amenity=cafe`) about 9 m east of [[PoiEdge]]'s midpoint;
  *  - a closed `building=yes` way — a polygon, not a line;
  *  - an open `railway=rail` way — a line that is also a low-zoom road;
  *  - a `restriction` relation (from way 10 via node 1 to way 100);
  *  - a `multipolygon` relation with the building as its `outer` member.
  */
object StreetGrid {
  val Rows = 6
  val Cols = 6
  private val (lng0, lat0, dLng, dLat) = (-118.16, 34.12, 0.0041, 0.0033)

  case class Node(id: Long, lng: Double, lat: Double,
      tags: Map[String, String] = Map.empty)
  case class Way(id: Long, nds: Seq[Long], tags: Map[String, String])
  case class Member(mtype: String, ref: Long, role: String)
  case class Relation(id: Long, members: Seq[Member], tags: Map[String, String])

  /** Every node's `timestamp` attribute. */
  val Timestamp = "2021-03-04T05:06:07Z"

  private def crossing(r: Int, c: Int): Node =
    Node(1L + r * Cols + c, lng0 + c * dLng, lat0 + r * dLat,
      if (r == 0 && c == 0) Map("highway" -> "traffic_signals") else Map.empty)

  /** The shape node between crossings (r, c) and (r, c + 1). */
  private def shape(r: Int, c: Int): Node =
    Node(1000L + r * Cols + c, lng0 + (c + 0.5) * dLng, lat0 + r * dLat + 0.0004)

  /** The footway segment between rows 1 and 2 of column 2: the POI's edge. */
  val PoiEdge: Long = (100L + 2) * 65536 + 2

  val Poi = Node(4000L, lng0 + 2 * dLng + 0.0001, lat0 + 1.5 * dLat,
    Map("amenity" -> "cafe", "name" -> "Grid Cafe"))

  private val building = (0 until 4).map(i =>
    Node(2000L + i, lng0 - 0.002 + (i / 2) * 0.001, lat0 - 0.002 + ((i + 1) / 2 % 2) * 0.001))
  private val rail = Seq(
    Node(3000L, lng0, lat0 + Rows * dLat),
    Node(3001L, lng0 + Cols * dLng, lat0 + Rows * dLat))

  val nodes: Seq[Node] =
    (for (r <- 0 until Rows; c <- 0 until Cols) yield crossing(r, c)) ++
      (for (r <- 0 until Rows; c <- 0 until Cols - 1) yield shape(r, c)) ++
      building ++ rail :+ Poi

  val ways: Seq[Way] =
    (0 until Rows).map(r => Way(10L + r,
      (0 until Cols).flatMap(c =>
        crossing(r, c).id +: (if (c < Cols - 1) Seq(shape(r, c).id) else Nil)),
      Map("highway" -> "residential"))) ++
      (0 until Cols).map(c => Way(100L + c,
        (0 until Rows).map(r => crossing(r, c).id), Map("highway" -> "footway"))) ++
      Seq(
        Way(500L, Seq(crossing(0, 0).id, crossing(Rows - 1, Cols - 1).id),
          Map("highway" -> "proposed")),
        Way(600L, building.map(_.id) :+ building.head.id, Map("building" -> "yes")),
        Way(700L, rail.map(_.id), Map("railway" -> "rail")))

  val relations: Seq[Relation] = Seq(
    Relation(800L,
      Seq(Member("way", 10L, "from"), Member("node", 1L, "via"),
        Member("way", 100L, "to")),
      Map("type" -> "restriction", "restriction" -> "no_left_turn")),
    Relation(900L, Seq(Member("way", 600L, "outer")),
      Map("type" -> "multipolygon", "building" -> "yes")))

  /** gid → polyline (lng, lat), as `RoutingGraph.edges` must split it. */
  val edges: Map[Long, Seq[(Double, Double)]] = {
    def pt(n: Node) = (n.lng, n.lat)
    val horizontal = for (r <- 0 until Rows; s <- 1 until Cols) yield
      ((10L + r) * 65536 + s) -> Seq(crossing(r, s - 1), shape(r, s - 1), crossing(r, s)).map(pt)
    val vertical = for (c <- 0 until Cols; s <- 1 until Rows) yield
      ((100L + c) * 65536 + s) -> Seq(crossing(s - 1, c), crossing(s, c)).map(pt)
    (horizontal ++ vertical).toMap
  }

  /** Write the extract as OSM XML v0.6 to `dir/grid.osm`; returns its path. */
  def write(dir: java.nio.file.Path): String = {
    val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n")
    def tags(t: Map[String, String]): Unit =
      t.toSeq.sorted.foreach { case (k, v) => sb ++= s"""    <tag k="$k" v="$v"/>\n""" }
    nodes.foreach { n =>
      sb ++= s"""  <node id="${n.id}" lat="${n.lat}" lon="${n.lng}" version="1" timestamp="$Timestamp">\n"""
      tags(n.tags)
      sb ++= "  </node>\n"
    }
    ways.foreach { w =>
      sb ++= s"""  <way id="${w.id}" version="1">\n"""
      w.nds.foreach(nd => sb ++= s"""    <nd ref="$nd"/>\n""")
      tags(w.tags)
      sb ++= "  </way>\n"
    }
    relations.foreach { r =>
      sb ++= s"""  <relation id="${r.id}" version="1">\n"""
      r.members.foreach(m =>
        sb ++= s"""    <member type="${m.mtype}" ref="${m.ref}" role="${m.role}"/>\n""")
      tags(r.tags)
      sb ++= "  </relation>\n"
    }
    sb ++= "</osm>\n"
    val f = dir.resolve("grid.osm")
    java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
    f.toString
  }
}
