package graft.osm

import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
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

  /** Partition keys of each executed `WindowExec`, plus whether the plan
    * has a union, an `Expand` or a distinct aggregate (`countDistinct`).
    */
  private def shape(df: DataFrame): (Seq[Seq[String]], Boolean, Boolean, Boolean) = {
    df.collect()
    val plan: SparkPlan = df.queryExecution.executedPlan
    val windows = ExecutedPlan.collect(plan) {
      case w: WindowExec => w.partitionSpec.flatMap(_.references.map(_.name))
    }
    (windows.sortBy(_.mkString(",")),
      ExecutedPlan.collect(plan) { case u: UnionExec => u }.nonEmpty,
      ExecutedPlan.collect(plan) { case x: ExpandExec => x }.nonEmpty,
      ExecutedPlan.collect(plan) {
        case a: BaseAggregateExec => a.aggregateExpressions.filter(_.isDistinct)
      }.flatten.nonEmpty)
  }

  test("edges runs the noding window once: one branch, no union of two") {
    // One nd-keyed window for the vertex flag and one way-keyed running sum
    // for the segment index, over one branch: no union, and no countDistinct
    // aggregate joined back.
    val e = RoutingGraph.edges(RoutingGraph.routableWays(ways), nodes)
    shape(e) shouldBe ((Seq(Seq("nd"), Seq("way_id")), false, false, false))
    val v = RoutingGraph.vertexNodeIds(RoutingGraph.routableWays(ways))
    shape(v) shouldBe ((Nil, false, false, false))
  }

  // --- the noding rule against the aggregate-and-join-back oracle ---

  /** The old vertex rule: a `countDistinct` aggregate over the way nodes. */
  private def oracleVertexNodeIds(routable: DataFrame): DataFrame =
    routable
      .select(col("id").as("way_id"), posexplode(col("nds")).as(Seq("pos", "nd")),
        functions.size(col("nds")).as("n"))
      .withColumn("is_end", col("pos") === 0 || col("pos") === col("n") - 1)
      .groupBy("nd")
      .agg(countDistinct("way_id").as("way_cnt"), max(col("is_end")).as("any_end"))
      .filter(col("way_cnt") >= 2 || col("any_end"))
      .select(col("nd").as("vertex_nd"))

  /** The old `edges`: the oracle's vertex ids left-joined back onto the
    * node-joined way nodes, then the same way-keyed split.
    */
  private def oracleEdges(routable: DataFrame, nodes: DataFrame): DataFrame = {
    val exploded = routable
      .select(col("id").as("way_id"), col("tags"),
        posexplode(col("nds")).as(Seq("pos", "nd")))
      .join(nodes.select(col("id").as("nd"), col("lon"), col("lat")), Seq("nd"))
      .join(oracleVertexNodeIds(routable).withColumnRenamed("vertex_nd", "nd")
          .withColumn("is_vertex", lit(true)),
        Seq("nd"), "left")
      .withColumn("is_vertex", coalesce(col("is_vertex"), lit(false)))
    val w = Window.partitionBy("way_id").orderBy("pos")
    val vseen = sum(when(col("is_vertex"), 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    exploded.withColumn("vseen", vseen)
      .select(col("way_id"), col("tags"), col("pos"), col("nd"), col("lon"), col("lat"),
        explode(when(col("is_vertex"), array(col("vseen") - 1, col("vseen")))
          .otherwise(array(col("vseen")))).as("seg"))
      .groupBy("way_id", "seg")
      .agg(
        first(col("tags")).as("tags"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("lon").as("lng"), col("lat"), col("nd")))),
          p => struct(p.getField("lng").as("lng"), p.getField("lat").as("lat"))).as("geom"),
        min_by(col("nd"), col("pos")).as("source"),
        max_by(col("nd"), col("pos")).as("target"),
        count(lit(1)).as("n_pts"))
      .filter(col("n_pts") >= 2)
      .select((col("way_id") * lit(65536L) + col("seg")).as("gid"),
        col("way_id").as("osm_way_id"),
        col("source"), col("target"), col("geom"), col("tags"))
  }

  /** Rows in a canonical order, for a row-for-row compare. */
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  // Each way is one noding corner case; node 99 is missing from `nodes`,
  // and nodes 22 and 32 appear twice.
  private val tricky = Seq(
    (400L, Seq(10L, 11L, 12L, 10L)), // closed: first nd = last nd
    (500L, Seq(20L, 21L, 22L, 21L, 23L)), // revisits interior node 21
    (600L, Seq(30L, 31L, 32L, 33L)), // shares only interior nodes 31, 32
    (700L, Seq(34L, 32L, 31L, 35L)), //   with this way
    (800L, Seq(40L, 41L, 99L, 42L)), // interior nd 99 has no node row
    (900L, Seq(99L, 43L, 41L)) // 99 again, as an end; 41 shared with 800
  ).map { case (id, nds) => (id, nds, Map("highway" -> "residential")) }
    .toDF("id", "nds", "tags")

  private val trickyNodes = {
    val ids = Seq(10L, 11L, 12L, 20L, 21L, 22L, 23L, 30L, 31L, 32L, 33L, 34L, 35L,
      40L, 41L, 42L, 43L)
    (ids ++ Seq(22L, 32L)).map(id => (id, id * 1e-4, -id * 1e-4, Map.empty[String, String]))
      .toDF("id", "lon", "lat", "tags")
  }

  test("noding rule: vertex ids equal the countDistinct oracle on corner cases") {
    val got = rows(RoutingGraph.vertexNodeIds(tricky))
    got shouldBe rows(oracleVertexNodeIds(tricky))
    // the cases bite: ends (closed way's 10, missing 99), shared interiors
    // (31, 32, 41) are vertices; a same-way revisit (21) is not
    got.map(_.getLong(0)).toSet shouldBe
      Set(10L, 23L, 30L, 31L, 32L, 33L, 34L, 35L, 40L, 41L, 42L, 99L, 20L)
  }

  test("noding rule: edges equal the aggregate-and-join oracle row for row") {
    val got = rows(RoutingGraph.edges(tricky, trickyNodes))
    // the oracle reads one row per node id: the twin rows of 22 and 32
    // are identical, so keeping either is the rule `edges` applies
    got shouldBe rows(oracleEdges(tricky, trickyNodes.dropDuplicates("id")))
    got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet shouldBe Set(
      (400L, 10L, 10L), // closed way: one edge from its vertex back to it
      (500L, 20L, 23L), // 21 revisited by its own way only: no split
      // vertex 32 has two node rows but closes one segment: no 32 → 32 edge
      (600L, 30L, 31L), (600L, 31L, 32L), (600L, 32L, 33L),
      (700L, 34L, 32L), (700L, 32L, 31L), (700L, 31L, 35L),
      (800L, 40L, 41L), (800L, 41L, 42L), // 99's row dropped by the node join
      (900L, 43L, 41L))
    // no gid shifts past node 32: way 600's segments are 1, 2, 3 (segment
    // 0 would be the lone point before its first vertex)
    got.filter(_.getLong(1) == 600L).map(_.getLong(0) - 600L * 65536L)
      .sorted shouldBe Seq(1L, 2L, 3L)
    // node 22's second row adds no point: 20, 21, 22, 21, 23
    got.filter(_.getLong(1) == 500L).head.getAs[Seq[Any]]("geom").size shouldBe 5
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
