package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import graft.osm.{FeatureTables, RoutingGraph}

/** Shape of one synthetic town: a street grid of `cols` × `rows`
  * intersections `blockM` metres apart, with `shapeNodes` untagged nodes
  * between neighbouring intersections, and per-block densities of the
  * other OSM features.
  */
final case class TownShape(
    cols: Int, rows: Int, blockM: Double, shapeNodes: Int,
    buildingsPerBlock: Int, poiShare: Double, parkShare: Double,
    restrictionShare: Double, signalShare: Double)

/** What the generator wrote, counted while writing: the element totals,
  * the row counts that the import and routing tables must reproduce, and
  * the gids `RoutingGraph.edges` must assign (way id · 2^16 + segment
  * index, segments numbered from 1, per its scaladoc).
  */
final case class OsmCounts(
    nodes: Long, ways: Long, relations: Long,
    vertices: Long, taggedNodes: Long, pois: Long,
    lines: Long, roads: Long, buildings: Long, multipolygons: Long,
    edgeGids: Vector[Long]) {

  def routableEdges: Long = edgeGids.size.toLong

  def +(o: OsmCounts): OsmCounts = OsmCounts(
    nodes + o.nodes, ways + o.ways, relations + o.relations,
    vertices + o.vertices, taggedNodes + o.taggedNodes, pois + o.pois,
    lines + o.lines, roads + o.roads, buildings + o.buildings,
    multipolygons + o.multipolygons, edgeGids ++ o.edgeGids)

  /** Expected row count per table written by `OsmImport.writeAll`. */
  def importTables: Map[String, Long] = Map(
    "planet_osm_point" -> taggedNodes,
    "planet_osm_line" -> lines,
    "planet_osm_polygon" -> buildings,
    "planet_osm_roads" -> roads,
    "planet_osm_rels" -> multipolygons,
    "ways" -> routableEdges,
    "ways_vertices_pgr" -> vertices,
    "pointsOfInterest" -> pois)
}

object OsmCounts {
  val zero: OsmCounts = OsmCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Vector.empty)
}

/** Seeded OSM XML v0.6 generator.
  *
  * Each town is a street grid whose ways share their intersection nodes:
  * every grid line is cut into ways of 2–6 blocks, and consecutive ways of
  * one line share the intersection where they meet. Highway classes mix
  * routable ones with classes `RoutingGraph.RoutableHighway` leaves out, so
  * the noding sees intersections that only one routable way uses. Blocks
  * carry closed building ways, some blocks are parks (an untagged outer
  * and inner ring joined by a `multipolygon` relation), some
  * intersections carry a `restriction` relation or a traffic-signal tag,
  * and `amenity`/`shop`/`tourism` POIs sit beside the streets (a few in
  * the middle of a block, beyond the snapping distance).
  *
  * The routing counts are computed while writing, with the noding rule of
  * `RoutingGraph` (a node is a vertex iff two routable ways use it or it
  * ends one), so they are independent of the code they check.
  */
object SyntheticOsm {

  private val Routable = Array("residential", "residential", "residential",
    "residential", "tertiary", "service", "unclassified", "living_street",
    "footway", "cycleway")
  private val Arterial = Array("primary", "secondary", "secondary", "tertiary")
  private val NonRoutable = Array("construction", "proposed", "pedestrian",
    "steps", "bridleway")
  private val PoiTags = Array("amenity" -> "cafe", "amenity" -> "restaurant",
    "amenity" -> "school", "shop" -> "bakery", "shop" -> "supermarket",
    "tourism" -> "museum")
  private val Meta =
    """version="1" changeset="4711" timestamp="2021-06-01T12:00:00Z" user="synth" uid="7" visible="true""""

  private val MetresPerDegLat = 111320.0
  /** Ids of one town live in [town · IdStride, (town + 1) · IdStride). */
  val IdStride: Long = 100000000L

  require(!NonRoutable.exists(RoutingGraph.RoutableHighway.contains))
  require(Routable.forall(RoutingGraph.RoutableHighway.contains))

  /** Write towns `0 until towns` of `shape`, one file each when `perTown`,
    * else all of them into `dir/extract.osm`. Returns the files and counts.
    */
  def write(dir: File, seed: Long, shape: TownShape, towns: Int,
      perTown: Boolean): (Seq[File], OsmCounts) = {
    dir.mkdirs()
    if (perTown) {
      val out = (0 until towns).map { t =>
        val f = new File(dir, f"town-$t%02d.osm")
        val c = withWriter(f)(w => writeTowns(w, seed, shape, Seq(t)))
        (f, c)
      }
      (out.map(_._1), out.map(_._2).foldLeft(OsmCounts.zero)(_ + _))
    } else {
      val f = new File(dir, "extract.osm")
      (Seq(f), withWriter(f)(w => writeTowns(w, seed, shape, 0 until towns)))
    }
  }

  private def withWriter[T](f: File)(body: Appendable => T): T = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  /** One `<osm>` document holding the given towns. */
  def writeTowns(w: Appendable, seed: Long, shape: TownShape,
      towns: Seq[Int]): OsmCounts = {
    w.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    w.append("<osm version=\"0.6\" generator=\"perfbench-synthetic\">\n")
    val c = towns.foldLeft(OsmCounts.zero)((acc, t) => acc + town(w, seed, shape, t))
    w.append("</osm>\n")
    c
  }

  /** Coordinates as fixed 7-decimal text (OSM's precision), no locale. */
  private def coord(v: Double): String = {
    val e7 = math.round(v * 1e7)
    val a = math.abs(e7)
    val frac = (a % 10000000L).toString
    (if (e7 < 0) "-" else "") + (a / 10000000L) + "." + ("0" * (7 - frac.length)) + frac
  }

  private def town(w: Appendable, seed: Long, s: TownShape, townIdx: Int): OsmCounts = {
    val rnd = new SplittableRandom(seed * 1000003L + townIdx)
    val base = townIdx * IdStride
    var nextId = base + 1
    def newId(): Long = { val i = nextId; nextId += 1; i }

    // Towns sit on a diagonal 0.25° apart around a Pasadena-like origin.
    val lat0 = 34.10 + 0.25 * townIdx + rnd.nextDouble() * 0.002
    val lon0 = -118.20 + 0.25 * townIdx + rnd.nextDouble() * 0.002
    val dLat = s.blockM / MetresPerDegLat
    val dLon = s.blockM / (MetresPerDegLat * math.cos(math.toRadians(lat0)))
    def latOf(j: Double): Double = lat0 + j * dLat
    def lonOf(i: Double): Double = lon0 + i * dLon

    var nodes, ways, relations, tagged, pois = 0L
    var lines, roads, buildings, parks = 0L

    def node(id: Long, lat: Double, lon: Double, tags: Seq[(String, String)]): Unit = {
      w.append(" <node id=\"").append(id.toString).append("\" ").append(Meta)
        .append(" lat=\"").append(coord(lat)).append("\" lon=\"").append(coord(lon))
      if (tags.isEmpty) w.append("\"/>\n")
      else {
        w.append("\">\n")
        tags.foreach { case (k, v) =>
          w.append("  <tag k=\"").append(k).append("\" v=\"").append(v).append("\"/>\n")
        }
        w.append(" </node>\n")
        tagged += 1
      }
      nodes += 1
    }
    def way(id: Long, nds: Seq[Long], tags: Seq[(String, String)]): Unit = {
      w.append(" <way id=\"").append(id.toString).append("\" ").append(Meta).append(">\n")
      nds.foreach(n => w.append("  <nd ref=\"").append(n.toString).append("\"/>\n"))
      tags.foreach { case (k, v) =>
        w.append("  <tag k=\"").append(k).append("\" v=\"").append(v).append("\"/>\n")
      }
      w.append(" </way>\n")
      ways += 1
    }
    def relation(id: Long, members: Seq[(String, Long, String)], tags: Seq[(String, String)]): Unit = {
      w.append(" <relation id=\"").append(id.toString).append("\" ").append(Meta).append(">\n")
      members.foreach { case (t, r, role) =>
        w.append("  <member type=\"").append(t).append("\" ref=\"").append(r.toString)
          .append("\" role=\"").append(role).append("\"/>\n")
      }
      tags.foreach { case (k, v) =>
        w.append("  <tag k=\"").append(k).append("\" v=\"").append(v).append("\"/>\n")
      }
      w.append(" </relation>\n")
      relations += 1
    }
    // Plus or minus a tenth of a block, so no two towns of a seed are alike.
    def jitter(): Double = (rnd.nextDouble() - 0.5) * 0.2

    // --- Intersections and the shape nodes between them -----------------
    val cols = s.cols; val rows = s.rows
    val inter = Array.tabulate(rows, cols)((_, _) => newId())
    val interLat = Array.tabulate(rows, cols)((j, _) => latOf(j + jitter() * 0.1))
    val interLon = Array.tabulate(rows, cols)((_, i) => lonOf(i + jitter() * 0.1))
    for (j <- 0 until rows; i <- 0 until cols) {
      val signal = rnd.nextDouble() < s.signalShare
      node(inter(j)(i), interLat(j)(i), interLon(j)(i),
        if (signal) Seq("highway" -> "traffic_signals") else Nil)
    }
    // Shape nodes of the block edge leaving (j, i) eastward / northward.
    def shapes(fromLat: Double, fromLon: Double, toLat: Double, toLon: Double): Array[Long] =
      Array.tabulate(s.shapeNodes) { k =>
        val f = (k + 1).toDouble / (s.shapeNodes + 1)
        val id = newId()
        val bend = jitter() * 0.05
        node(id, fromLat + f * (toLat - fromLat) + bend * dLat,
          fromLon + f * (toLon - fromLon) + bend * dLon, Nil)
        id
      }
    val east = Array.tabulate(rows, cols - 1)((j, i) =>
      shapes(interLat(j)(i), interLon(j)(i), interLat(j)(i + 1), interLon(j)(i + 1)))
    val north = Array.tabulate(rows - 1, cols)((j, i) =>
      shapes(interLat(j)(i), interLon(j)(i), interLat(j + 1)(i), interLon(j + 1)(i)))

    // --- Streets: every grid line cut into ways of 2..6 blocks ------------
    // (intersection node ids along the way, highway class)
    val streets = mutable.ArrayBuffer.empty[(Long, Array[Long], Array[Long], String)]
    def cutLine(n: Int, arterial: Boolean, ix: Int => Long, seg: Int => Array[Long]): Unit = {
      var start = 0
      while (start < n - 1) {
        val len = math.min(2 + rnd.nextInt(5), n - 1 - start)
        val hw =
          if (rnd.nextDouble() < 0.06) NonRoutable(rnd.nextInt(NonRoutable.length))
          else if (arterial) Arterial(rnd.nextInt(Arterial.length))
          else Routable(rnd.nextInt(Routable.length))
        val nds = mutable.ArrayBuilder.make[Long]
        for (b <- start until start + len) { nds += ix(b); nds ++= seg(b) }
        nds += ix(start + len)
        val corners = (start to start + len).map(ix).toArray
        streets += ((newId(), nds.result(), corners, hw))
        start += len
      }
    }
    for (j <- 0 until rows)
      cutLine(cols, j % 8 == 4, i => inter(j)(i), i => east(j)(i))
    for (i <- 0 until cols)
      cutLine(rows, i % 8 == 4, j => inter(j)(i), j => north(j)(i))

    // Noding as RoutingGraph does it, over routable ways only.
    val routable = streets.filter(st => RoutingGraph.RoutableHighway.contains(st._4))
    val users = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    val ends = mutable.HashSet.empty[Long]
    routable.foreach { case (_, _, corners, _) =>
      corners.foreach(n => users(n) += 1)
      ends += corners.head; ends += corners.last
    }
    def isVertex(n: Long): Boolean = users(n) >= 2 || ends(n)
    val edgeGids = routable.flatMap { case (id, _, corners, _) =>
      (1 until corners.count(isVertex)).map(seg => id * 65536L + seg)
    }.toVector
    val vertices = users.keys.count(isVertex).toLong

    streets.foreach { case (id, nds, _, hw) =>
      way(id, nds.toSeq, Seq("highway" -> hw, "name" -> s"Street $id"))
      lines += 1
      if (FeatureTables.LowZoomHighway.contains(hw)) roads += 1
    }

    // --- Blocks: buildings, parks, POIs ----------------------------------
    for (j <- 0 until rows - 1; i <- 0 until cols - 1) {
      val cLat = latOf(j + 0.5); val cLon = lonOf(i + 0.5)
      def ring(halfLat: Double, halfLon: Double, offLat: Double, offLon: Double): Seq[Long] = {
        val ids = Seq.fill(4)(newId())
        val pts = Seq((-1, -1), (1, -1), (1, 1), (-1, 1))
        ids.zip(pts).foreach { case (n, (a, b)) =>
          node(n, cLat + offLat + a * halfLat, cLon + offLon + b * halfLon, Nil)
        }
        ids :+ ids.head
      }
      if (rnd.nextDouble() < s.parkShare) {
        val outer = newId(); val inner = newId()
        way(outer, ring(0.35 * dLat, 0.35 * dLon, 0, 0), Nil)
        way(inner, ring(0.08 * dLat, 0.08 * dLon, 0, 0), Nil)
        relation(newId(), Seq(("way", outer, "outer"), ("way", inner, "inner")),
          Seq("type" -> "multipolygon", "leisure" -> "park", "name" -> s"Park $outer"))
        parks += 1
      } else {
        for (b <- 0 until s.buildingsPerBlock) {
          val offLat = ((b % 3) - 1) * 0.28 * dLat
          val offLon = ((b / 3 % 3) - 1) * 0.28 * dLon
          way(newId(), ring(0.08 * dLat, 0.08 * dLon, offLat, offLon),
            Seq("building" -> (if (rnd.nextBoolean()) "yes" else "house")))
          buildings += 1
        }
      }
      if (rnd.nextDouble() < s.poiShare) {
        val (k, v) = PoiTags(rnd.nextInt(PoiTags.length))
        // Mostly 10 m off the southern street; one in ten mid-block.
        val offLat = if (rnd.nextInt(10) == 0) 0.0 else -0.5 * dLat + 10 / MetresPerDegLat
        node(newId(), cLat + offLat, cLon + jitter() * dLon, Seq(k -> v, "name" -> s"$v $i-$j"))
        pois += 1
      }
    }

    // --- Turn restrictions at interior intersections ---------------------
    val byCorner = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    streets.foreach { case (id, _, corners, _) =>
      corners.foreach(n => byCorner.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += id)
    }
    for (j <- 1 until rows - 1; i <- 1 until cols - 1
         if rnd.nextDouble() < s.restrictionShare) {
      val via = inter(j)(i)
      val ws = byCorner(via)
      if (ws.size >= 2)
        relation(newId(), Seq(("way", ws(0), "from"), ("node", via, "via"), ("way", ws(1), "to")),
          Seq("type" -> "restriction", "restriction" -> "no_left_turn"))
    }

    OsmCounts(nodes, ways, relations, vertices, tagged, pois,
      lines, roads, buildings, parks, edgeGids)
  }
}
