package graft.osm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.Mercator

/** The osm2pgrouting-documented routing tables (SURVEY §2.1 S7,
  * README.md:44-54): highway ways noded at shared vertices → `ways` edge
  * table + `ways_vertices_pgr` + POI snap.
  *
  * Noding semantics: a node is a graph vertex iff it is used by ≥ 2
  * distinct ways OR is an endpoint of a way ([[vertexFlag]]); each way is
  * split into edges at its vertices. Everything is relational — degree
  * counting is an nd-keyed aggregate, splitting is a running sum over
  * positions — no driver loops.
  */
object RoutingGraph {

  /** Highway classes considered routable (osm2pgrouting mapconfig analog —
    * kept as engine config, SURVEY §3.3).
    */
  val RoutableHighway: Seq[String] = Seq(
    "motorway", "motorway_link", "trunk", "trunk_link",
    "primary", "primary_link", "secondary", "secondary_link",
    "tertiary", "tertiary_link", "unclassified", "residential",
    "living_street", "service", "track", "cycleway", "footway", "path")

  def routableWays(ways: DataFrame): DataFrame =
    ways.filter(element_at(col("tags"), "highway").isin(RoutableHighway: _*))

  /** One row per (way, position): way_id, tags, pos, nd, and whether the
    * position is one of the way's two ends.
    */
  private def wayNodes(routable: DataFrame): DataFrame =
    routable
      .select(col("id").as("way_id"), col("tags"),
        posexplode(col("nds")).as(Seq("pos", "nd")), size(col("nds")).as("n"))
      .withColumn("is_end", col("pos") === 0 || col("pos") === col("n") - 1)
      .drop("n")

  /** The noding rule over one node's [[wayNodes]] rows, stated once:
    * `agg` turns an aggregate into a per-node value (identity under a
    * `groupBy(nd)`, `.over(nd window)` in [[edges]]). ≥ 2 distinct ways is
    * min(way_id) ≠ max(way_id), so no `countDistinct`.
    */
  private def vertexFlag(agg: Column => Column): Column =
    agg(min(col("way_id"))) =!= agg(max(col("way_id"))) || agg(max(col("is_end")))

  /** Node-id → vertex flag: used by ≥2 ways, or an endpoint of any way. */
  def vertexNodeIds(routable: DataFrame): DataFrame =
    wayNodes(routable)
      .groupBy("nd").agg(vertexFlag(identity).as("is_vertex"))
      .filter(col("is_vertex"))
      .select(col("nd").as("vertex_nd"))

  /** `ways_vertices_pgr`: vertex nodes with coordinates. */
  def vertices(routable: DataFrame, nodes: DataFrame): DataFrame =
    vertexNodeIds(routable)
      .join(FeatureTables.nodeCoords(nodes), col("vertex_nd") === col("nd"))
      .select(col("vertex_nd").as("vid"), col("lon").as("lng"), col("lat"))

  /** `ways` edge table: each routable way split at its vertices.
    *
    * gid = way_id·2^16 + segment_index (deterministic, join-free id —
    * documented cap of 65536 segments/way; OSM ways max out at 2000 nds).
    *
    * Plan shape: the way-node rows, joined to their coordinates, take the
    * vertex flag from an nd-keyed window ([[vertexFlag]] over the node's
    * rows), then the segment index from a way-keyed running sum. Two
    * windows, both partitioned (never global), and no aggregate-and-join
    * back: the flag over the joined rows equals the flag over all of the
    * way's rows, because either every row of an nd survives the inner node
    * join or none does. Coordinates come from
    * [[FeatureTables.nodeCoords]], one row per node id.
    */
  def edges(routable: DataFrame, nodes: DataFrame): DataFrame = {
    val exploded = wayNodes(routable)
      .join(FeatureTables.nodeCoords(nodes), Seq("nd"))
      .withColumn("is_vertex", vertexFlag(_.over(Window.partitionBy("nd"))))
    val w = Window.partitionBy("way_id").orderBy("pos")
    // Segment index: how many vertices seen before this position. A vertex
    // node CLOSES one segment and OPENS the next, so it belongs to both —
    // explode it into two rows (seg-1 as closer, seg as opener) in the same
    // projection that assigns every other node its one seg.
    val vseen = sum(when(col("is_vertex"), 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val parts = exploded
      .withColumn("vseen", vseen)
      .select(col("way_id"), col("tags"), col("pos"), col("nd"),
        col("lon"), col("lat"),
        explode(when(col("is_vertex"), array(col("vseen") - 1, col("vseen")))
          .otherwise(array(col("vseen")))).as("seg"))
    parts.groupBy("way_id", "seg")
      .agg(
        first(col("tags")).as("tags"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("lon").as("lng"), col("lat"), col("nd")))),
          p => struct(p.getField("lng").as("lng"), p.getField("lat").as("lat"))).as("geom"),
        min_by(col("nd"), col("pos")).as("source"),
        max_by(col("nd"), col("pos")).as("target"),
        count(lit(1)).as("n_pts"))
      .filter(col("n_pts") >= 2)
      .select(
        (col("way_id") * lit(65536L) + col("seg")).as("gid"),
        col("way_id").as("osm_way_id"),
        col("source"), col("target"), col("geom"), col("tags"))
  }

  /** POIs: tagged nodes of interest (amenity/shop/tourism — the
    * pointsOfInterest input of README.md:47).
    */
  def pois(nodes: DataFrame): DataFrame =
    nodes.filter(
      map_contains_key(col("tags"), "amenity") ||
        map_contains_key(col("tags"), "shop") ||
        map_contains_key(col("tags"), "tourism"))
      .select(col("id").as("pid"), col("lon").as("lng"), col("lat"), col("tags"))

  /** J3/F5/W1: `osm2pgr_pois_update(radius, within)` (README.md:48-54) —
    * snap each POI to its nearest edge within `within` meters, searching
    * only `radius`-bounded neighborhoods; null edge = "too far".
    *
    * Plan shape (the 100 TB design): both sides keyed to a square grid of
    * `radius` meters; the edge side explodes to its 3×3 neighbor cells so
    * every POI finds all candidates with ONE equi-join (no cross join).
    * Edge distance = min point-to-segment distance over the edge polyline
    * (equirectangular local projection — exact enough at ≤200 m).
    */
  def snapPois(pois: DataFrame, edges: DataFrame,
      radiusM: Double = 200.0, withinM: Double = 50.0): DataFrame = {
    val cellDeg = radiusM / 111320.0 // meters per degree latitude
    val (pcx, pcy) = Mercator.gridCell(col("lng"), col("lat"), cellDeg)
    val p = pois.select(col("pid"), col("lng"), col("lat"),
      pcx.as("cx"), pcy.as("cy"))

    // Edge → one row per (neighbor cell, segment): explode polyline into
    // consecutive-vertex segments, key each by its start-vertex cell ± 1.
    val seg = edges.select(col("gid"), posexplode(col("geom")).as(Seq("pos", "pt")))
      .withColumn("nxt", lead(col("pt"), 1)
        .over(Window.partitionBy("gid").orderBy("pos")))
      .filter(col("nxt").isNotNull)
    val (ecx, ecy) = Mercator.gridCell(col("pt.lng"), col("pt.lat"), cellDeg)
    val keyed = seg
      .withColumn("cx0", ecx).withColumn("cy0", ecy)
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("gid"), col("pt"), col("nxt"),
        (col("cx0") + col("dx")).as("cx"), (col("cy0") + col("dy")).as("cy"))

    val cand = p.join(keyed, Seq("cx", "cy"))
      .withColumn("dist_m", pointSegmentMeters(
        col("lng"), col("lat"),
        col("pt.lng"), col("pt.lat"), col("nxt.lng"), col("nxt.lat")))
    val w = Window.partitionBy("pid").orderBy(col("dist_m"), col("gid"))
    val nearest = cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("dist_m") <= withinM)
      .select(col("pid"), col("gid").as("edge_gid"), col("dist_m"))
    pois.join(nearest, Seq("pid"), "left")
      .select(col("pid"), col("lng"), col("lat"), col("tags"),
        col("edge_gid"), col("dist_m"))
  }

  /** Point-to-segment distance in meters via equirectangular projection
    * around the point's latitude (ok for ≤ a few hundred meters).
    */
  def pointSegmentMeters(px: Column, py: Column,
      ax: Column, ay: Column, bx: Column, by: Column): Column = {
    val mPerDegLat = lit(111320.0)
    val mPerDegLng = lit(111320.0) * cos(py * lit(math.Pi / 180.0))
    val apx = (px - ax) * mPerDegLng
    val apy = (py - ay) * mPerDegLat
    val abx = (bx - ax) * mPerDegLng
    val aby = (by - ay) * mPerDegLat
    val ab2 = abx * abx + aby * aby
    val t0 = when(ab2 > 0, (apx * abx + apy * aby) / ab2).otherwise(lit(0.0))
    val t = least(greatest(t0, lit(0.0)), lit(1.0))
    val dx = apx - t * abx
    val dy = apy - t * aby
    sqrt(dx * dx + dy * dy)
  }
}
