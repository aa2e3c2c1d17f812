package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.osm.{OsmXml, RoutingGraph}
import graft.raster.{RasterPass, RasterSampler, SyntheticTileStore, Tile, TileStore, ValueFns}

/** One enrichment pass = the reference's `process_*` functions:
  * (tile source, value function, zoom, output column).
  */
case class EnrichmentPass(
    column: String,
    store: TileStore,
    valueFn: (Tile, Int, Int) => Double,
    zoom: Int,
    enabled: Boolean = true)

/** The §3.1 pipeline (`update_ways_metadata.main`, :128-144), one lazy DAG:
  *
  *   parse OSM → routing edges → explode(geom) → T1/T2 address per pass →
  *   ONE repartition + sort by (pass, tile) → sample → ONE groupBy(gid)
  *   with a median per pass → normalize each column by its global max.
  *
  * The reference runs its passes sequentially and upserts each into
  * `ways_metadata` (`INSERT … ON CONFLICT`); here all passes share one
  * sampling shuffle and one aggregate ([[RasterSampler.medians]]), whose
  * rows are what that upsert sequence produces: a gid appears iff some
  * pass sampled it, and a pass that did not reads null. There is no FK
  * join either: every coordinate comes from an edge, so every gid already
  * references one (J4). Passes: popularity (Strava L-mode heat, zoom 12),
  * greenery (satellite RGB, zoom 15), and the config-gated highres pass
  * DISABLED by default, matching the commented-out call at
  * `update_ways_metadata.py:138`.
  */
object WaysEnrichment {

  def defaultPasses(seed: Long = 42L): Seq[EnrichmentPass] = Seq(
    EnrichmentPass("popularity",
      new SyntheticTileStore(256, "L", seed), ValueFns.strava, zoom = 12),
    EnrichmentPass("greenery",
      new SyntheticTileStore(256, "RGB", seed + 1), ValueFns.greeneryAbsolute, zoom = 15),
    EnrichmentPass("popularity_highres",
      new SyntheticTileStore(512, "L", seed + 2), ValueFns.strava, zoom = 15,
      enabled = false))

  /** Edge coordinates: (gid, lng, lat) — one row per polyline vertex. */
  def edgeCoords(edges: DataFrame): DataFrame =
    edges.select(col("gid"), explode(col("geom")).as("pt"))
      .select(col("gid"), col("pt.lng").as("lng"), col("pt.lat").as("lat"))

  /** Run all enabled passes and return the final `ways_metadata` table
    * (gid, <one column per enabled pass>). Fails before any Spark job
    * unless ≥ 1 pass is enabled and the enabled columns are distinct and
    * not `gid`.
    */
  def run(spark: SparkSession, osmPath: String,
      passes: Seq[EnrichmentPass]): DataFrame = {
    val tables = OsmXml.parse(spark, osmPath)
    val routable = RoutingGraph.routableWays(tables.ways)
    // Every pass addresses these rows: materialize them once.
    val coords = edgeCoords(RoutingGraph.edges(routable, tables.nodes)).cache()
    RasterSampler.medians(coords, passes.filter(_.enabled)
      .map(p => RasterPass(p.column, p.store, p.zoom, p.valueFn)))
  }

  /** Convenience: full pipeline on an OSM extract with synthetic tiles. */
  def runDefault(spark: SparkSession, osmPath: String): DataFrame =
    run(spark, osmPath, defaultPasses())
}
