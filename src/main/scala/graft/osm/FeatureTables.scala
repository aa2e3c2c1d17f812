package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The osm2pgsql-documented feature split (SURVEY §2.1 S6, README.md:33-38):
  * parsed elements → planet_osm_point / line / polygon / roads, with the
  * full tag map as the hstore escape hatch (README.md:25).
  *
  * Geometry is plain nested arrays of (lng, lat) structs — no geo jar
  * offline; spatial math lives in graft.geo as column expressions.
  */
object FeatureTables {

  /** Low-zoom road classes for planet_osm_roads (README.md:38 — "not just
    * roads": boundaries and railways also render at low zoom).
    */
  val LowZoomHighway: Seq[String] =
    Seq("motorway", "motorway_link", "trunk", "trunk_link",
      "primary", "primary_link", "secondary", "secondary_link")

  /** F1: tagged nodes → point features (README.md:36). */
  def points(nodes: DataFrame): DataFrame =
    nodes.filter(size(col("tags")) > 0)
      .select(
        col("id").as("osm_id"), col("tags"),
        struct(col("lon").as("lng"), col("lat").as("lat")).as("geom"))

  /** The node coordinates every way → coordinate join reads: (nd, lon,
    * lat), one row per node id. An id with several rows (overlapping
    * extracts, files that share boundary nodes) keeps its highest
    * `version`, ties broken by the smallest (lon, lat), so a repeated row
    * can neither close an extra segment nor repeat a point. A `nodes`
    * table without a `version` column ranks by coordinates alone.
    */
  private[osm] def nodeCoords(nodes: DataFrame): DataFrame = {
    val newestFirst =
      if (nodes.columns.contains("version")) -col("version").cast("long")
      else lit(null).cast("long")
    nodes.groupBy(col("id").as("nd"))
      .agg(min(struct(coalesce(newestFirst, lit(Long.MaxValue)).as("k"),
        col("lon"), col("lat"))).as("c"))
      .select(col("nd"), col("c.lon").as("lon"), col("c.lat").as("lat"))
  }

  /** J2/A5/O1: resolve each way's ORDERED nd refs to coordinates.
    *
    * Plan shape (scale-reviewed): posexplode(nds) → shuffle join against
    * `nodes` on the node id (sort-merge at scale; nodes side is the big
    * one) → groupBy way → collect ordered (pos,lng,lat) → array_sort by
    * pos → strip pos. Never relies on shuffle order (SURVEY §2.7 O1).
    * Refs missing from the extract (clipped boundary ways) are dropped,
    * matching osm2pgsql's clipping behavior.
    */
  def wayGeometries(ways: DataFrame, nodes: DataFrame): DataFrame = {
    val exploded = ways.select(col("id").as("way_id"),
      posexplode(col("nds")).as(Seq("pos", "nd")))
    exploded
      .join(nodeCoords(nodes), Seq("nd"))
      .groupBy("way_id")
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("lon").as("lng"), col("lat")))),
          p => struct(p.getField("lng").as("lng"), p.getField("lat").as("lat"))
        ).as("geom"),
        count(lit(1)).as("n_resolved"))
  }

  /** F3: closed-way predicate — first nd == last nd, ≥ 4 refs. */
  def isClosed(nds: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(nds) >= 4 && element_at(nds, 1) === element_at(nds, -1)

  /** Tagged ways + assembled geometry, flagged closed/open. */
  def taggedWayFeatures(ways: DataFrame, nodes: DataFrame): DataFrame = {
    val tagged = ways.filter(size(col("tags")) > 0)
    tagged.select(col("id").as("way_id"), col("tags"), isClosed(col("nds")).as("is_closed"))
      .join(wayGeometries(tagged, nodes), Seq("way_id"))
      .select(col("way_id").as("osm_id"), col("tags"), col("geom"), col("is_closed"))
  }

  /** planet_osm_line: ways rendered as lines — "might contain invalid area
    * objects, i.e. unclosed polygons" (README.md:35), so open ways AND
    * area-tagged-but-unclosed ways both land here.
    */
  def lines(wayFeatures: DataFrame): DataFrame =
    wayFeatures.filter(!col("is_closed") ||
        coalesce(element_at(col("tags"), "area"), lit("no")) === "no" &&
        !map_contains_key(col("tags"), "building"))
      .select("osm_id", "tags", "geom")

  /** planet_osm_polygon: closed ways (README.md:37); multipolygon relation
    * assembly adds rings via [[relationPolygons]].
    */
  def polygons(wayFeatures: DataFrame): DataFrame =
    wayFeatures.filter(col("is_closed")).select("osm_id", "tags", "geom")

  /** planet_osm_roads: the low-zoom subset (README.md:38). */
  def roads(lines: DataFrame): DataFrame =
    lines.filter(
      element_at(col("tags"), "highway").isin(LowZoomHighway: _*) ||
        map_contains_key(col("tags"), "boundary") ||
        coalesce(element_at(col("tags"), "railway"), lit("")) === "rail")

  /** J6: multipolygon relations — members resolved to way geometries, outer
    * and inner rings carried with their roles (README.md:37,
    * osm/example.osm:19350-19357).
    */
  def relationPolygons(relations: DataFrame, wayGeoms: DataFrame): DataFrame =
    relations
      .filter(element_at(col("tags"), "type") === "multipolygon")
      .select(col("id").as("rel_id"), col("tags"), explode(col("members")).as("m"))
      .filter(col("m.mtype") === "way")
      .join(wayGeoms.withColumnRenamed("way_id", "ref_way"),
        col("m.ref") === col("ref_way"))
      .groupBy("rel_id", "tags")
      .agg(
        collect_list(when(col("m.role") === "outer", col("geom"))).as("outer_rings"),
        collect_list(when(col("m.role") === "inner", col("geom"))).as("inner_rings"))
      .select(col("rel_id").as("osm_id"), col("tags"),
        col("outer_rings"), col("inner_rings"))
}
