package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.Upsert
import graft.osm.{FeatureTables, OsmXml, RoutingGraph}
import graft.pipeline.{OsmImport, WaysEnrichment}
import graft.raster.RasterSampler

/** One benchmark workload. `generate` (re)writes the seeded inputs under
  * `dir`; `pass` is one timed pass over them; `check` validates the output
  * of the latest pass; `traced` is one pass decomposed into spans around the
  * engine's public calls, each span materializing its layer's output.
  */
abstract class Workload(val spark: SparkSession, val dir: File, val seed: Long) {
  def name: String
  def generate(): Unit
  def pass(): Unit
  def check(): Option[String]
  def traced(tr: Tracer): Unit
  /** Spans traced after the pass, for layers outside the timed work; the
    * result is the check of what they wrote.
    */
  def tracedExtra(tr: Tracer): Option[String] = None
  def layerMetrics(tr: Tracer, log: StageLog, cores: Int): Seq[Metric]

  protected def path(name: String): String = new File(dir, name).getPath

  /** Cache `df`, count it into the span as `rows`, return it. */
  protected def materialize(df: DataFrame, c: (String, Double) => Unit): DataFrame = {
    val d = df.cache()
    c("rows", d.count().toDouble)
    d
  }
}

object Workload {
  val Names: Seq[String] = Seq("enrich_metro", "corpus_gram")

  def apply(name: String, spark: SparkSession, dir: File, seed: Long): Workload =
    name match {
      case "enrich_metro" => new EnrichMetro(spark, dir, seed)
      case "corpus_gram" => new CorpusGram(spark, dir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; known: ${Names.mkString(", ")}")
    }

  /** An order-free digest of rows: the exact sum of their `xxhash64`s. */
  def digestOf(cols: Seq[String]): Column =
    coalesce(sum(xxhash64(cols.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")),
      lit(BigDecimal(0)))

  /** Row count and digest of `df`. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), digestOf(df.columns.toSeq)).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Total size in MB of the regular files under `f`. */
  def sizeMb(f: File): Double = {
    def bytes(x: File): Long =
      if (x.isDirectory) Option(x.listFiles()).fold(0L)(_.map(bytes).sum) else x.length()
    bytes(f) / (1024.0 * 1024.0)
  }
}

/** Reads operator metrics out of an executed plan, adaptive stages included. */
object PlanJoins extends AdaptiveSparkPlanHelper {

  /** Output rows of the plan's joins keyed on `key` (0 if there is none). */
  def outputRows(plan: SparkPlan, key: String): Long =
    collect(plan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == key)) =>
        j.metrics.get("numOutputRows").fold(0L)(_.value)
    }.sum
}

/** The paper's pipeline on one contiguous street grid in one XML file:
  * `WaysEnrichment.run(…, defaultPasses())`, then `Upsert.writeAtomic`.
  * Its traced run also imports four dense towns, one XML file each, with
  * `OsmImport` (the step before enrichment in the reference), for the
  * feature-split, relation-polygon, POI-snap and table-write metrics.
  */
final class EnrichMetro(spark: SparkSession, dir: File, seed: Long)
    extends Workload(spark, dir, seed) {
  import EnrichMetro.{Tables, Towns, TownsShape}
  val name = "enrich_metro"
  val shape = TownShape(cols = 32, rows = 32, blockM = 320, shapeNodes = 2,
    buildingsPerBlock = 2, poiShare = 0.2, parkShare = 0.03,
    restrictionShare = 0.02, signalShare = 0.1)
  private var counts = OsmCounts.zero
  private var townCounts = OsmCounts.zero
  private var refDigest: Option[BigDecimal] = None
  private def xml = path("osm")
  private def out = path("out/ways_metadata")
  private def towns = path("towns")
  private def imported = path("out/import")

  private def tracedParse(tr: Tracer, span: String, xml: String): graft.osm.OsmTables =
    tr.span(span) { c =>
      val t = OsmXml.parse(spark, xml)
      c("elements", (t.nodes.count() + t.ways.count() + t.relations.count()).toDouble)
      t
    }

  /** osm.parse.* from the `OsmXml.parse` span: its time, the tasks of the
    * first stage it ran (the one that reads the XML) and the elements.
    */
  private def parseMetrics(tr: Tracer, log: StageLog): Seq[Metric] = {
    val s = tr.find("OsmXml.parse")
    val first = log.stagesIn(tr.epochMs(s.startNs), tr.epochMs(s.endNs)).headOption
    Seq(Metric("osm.parse.s", s.seconds, "s"),
      Metric("osm.parse.tasks", first.fold(0.0)(_.numTasks.toDouble), "count"),
      Metric("osm.parse.elements", s.counts("elements"), "count"))
  }

  def generate(): Unit = {
    counts = SyntheticOsm.write(new File(xml), seed, shape, 1, perTown = false)._2
    townCounts = SyntheticOsm.write(new File(towns), seed, TownsShape, Towns, perTown = true)._2
  }

  def pass(): Unit =
    Upsert.writeAtomic(WaysEnrichment.run(spark, xml, WaysEnrichment.defaultPasses()), out)

  /** The gids are exactly those the generator expects `RoutingGraph.edges`
    * to produce (so the table is FK-closed and complete), both columns lie
    * in [0, 1] with max 1, and the digest repeats across passes.
    */
  def check(): Option[String] = {
    import spark.implicits._
    val m = spark.read.parquet(out)
    val r = m.agg(count(lit(1)), countDistinct(col("gid")),
      count(col("popularity")), count(col("greenery")),
      min(col("popularity")), max(col("popularity")),
      min(col("greenery")), max(col("greenery")),
      Workload.digestOf(m.columns.toSeq)).head()
    val orphans = m.join(counts.edgeGids.toDF("gid"), Seq("gid"), "left_anti").count()
    val d = BigDecimal(r.getDecimal(8))
    val rows = r.getLong(0)
    if (rows != counts.routableEdges || r.getLong(1) != rows)
      Some(s"ways_metadata has $rows rows, ${r.getLong(1)} distinct gids, " +
        s"expected ${counts.routableEdges}")
    else if (orphans != 0) Some(s"$orphans gids are not edges of the extract")
    else if (r.getLong(2) != rows || r.getLong(3) != rows) Some("null metric values")
    else if (r.getDouble(4) < 0 || r.getDouble(6) < 0 ||
        r.getDouble(5) != 1.0 || r.getDouble(7) != 1.0)
      Some(s"metrics not normalized to [0, 1] with max 1: ${r.mkString(", ")}")
    else if (refDigest.exists(_ != d)) Some(s"digest $d differs from ${refDigest.get}")
    else { refDigest = Some(d); None }
  }

  def traced(tr: Tracer): Unit = {
    val t = tracedParse(tr, "OsmXml.parse", xml)
    val routable = RoutingGraph.routableWays(t.ways)
    val edges = tr.span("RoutingGraph.edges")(c => materialize(RoutingGraph.edges(routable, t.nodes), c))
    val coords = tr.span("WaysEnrichment.edgeCoords")(c =>
      materialize(WaysEnrichment.edgeCoords(edges), c))
    val metadata = WaysEnrichment.defaultPasses().filter(_.enabled).foldLeft(Option.empty[DataFrame]) {
      (acc, p) =>
        val addressed = tr.span(s"RasterSampler.address.${p.column}")(c =>
          materialize(RasterSampler.address(coords, p.zoom, p.store.tileSize), c))
        val tiles = addressed.select("tx", "ty").distinct().count().toDouble
        tr.span(s"RasterSampler.sample.${p.column}") { c =>
          val fetched = spark.sparkContext.longAccumulator
          materialize(RasterSampler.sample(addressed,
            new CountingTileStore(p.store, fetched), p.zoom, p.valueFn).toDF(), c)
          c("fetches", fetched.value.toDouble)
        }
        // The call exactly as WaysEnrichment.run makes it, with the pass's
        // store wrapped so that every fetch under the sampler's LRU counts.
        val m = tr.span(s"RasterSampler.medianPass.${p.column}") { c =>
          val fetched = spark.sparkContext.longAccumulator
          val counted = p.copy(store = new CountingTileStore(p.store, fetched))
          val m = materialize(RasterSampler.medianPass(coords, counted.store,
            counted.zoom, counted.valueFn, counted.column), c)
          c("fetches", fetched.value.toDouble)
          c("tiles", tiles)
          m
        }
        Some(acc.fold(m)(prev => tr.span("Upsert.upsert")(c => materialize(Upsert.upsert(prev, m, "gid"), c))))
    }.get
    val fk = tr.span("WaysEnrichment.run.fk")(c =>
      materialize(metadata.join(edges.select("gid"), Seq("gid"), "left_semi"), c))
    tr.span("Upsert.writeAtomic") { c =>
      Upsert.writeAtomic(fk, out)
      c("mb", Workload.sizeMb(new File(out)))
    }
  }

  /** The import of the towns, decomposed into spans like the pass, then
    * table by table as `OsmImport.writeAll` writes them; checked against
    * the generator's row count of every table.
    */
  override def tracedExtra(tr: Tracer): Option[String] = {
    val t = tracedParse(tr, "OsmXml.parse[towns]", towns)
    tr.span("FeatureTables.taggedWayFeatures[towns]")(c =>
      materialize(FeatureTables.taggedWayFeatures(t.ways, t.nodes), c))
    val geoms = tr.span("FeatureTables.wayGeometries[towns]")(c =>
      materialize(FeatureTables.wayGeometries(t.ways, t.nodes), c))
    tr.span("FeatureTables.relationPolygons[towns]")(c =>
      materialize(FeatureTables.relationPolygons(t.relations, geoms), c))
    val routable = RoutingGraph.routableWays(t.ways)
    val edges = tr.span("RoutingGraph.edges[towns]")(c =>
      materialize(RoutingGraph.edges(routable, t.nodes), c))
    tr.span("RoutingGraph.snapPois[towns]") { c =>
      val qe = RoutingGraph.snapPois(RoutingGraph.pois(t.nodes), edges).queryExecution
      c("rows", qe.toRdd.count().toDouble)
      c("candidates", PlanJoins.outputRows(qe.executedPlan, "cx").toDouble)
    }
    val imp = tr.span("OsmImport.importAll[towns]")(_ => OsmImport.importAll(spark, towns))
    Seq(imp.points, imp.lines, imp.polygons, imp.roads, imp.relPolygons,
      imp.edges, imp.vertices, imp.pois).zip(Tables).foreach { case (df, table) =>
      tr.span(s"pipeline.import.$table")(_ => df.write.mode("overwrite").parquet(s"$imported/$table"))
    }
    val expected = townCounts.importTables
    Tables.iterator.map { t =>
      val n = spark.read.parquet(s"$imported/$t").count()
      if (n != expected(t)) Some(s"table $t has $n rows, expected ${expected(t)}") else None
    }.collectFirst { case Some(e) => e }
  }

  def layerMetrics(tr: Tracer, log: StageLog, cores: Int): Seq[Metric] = {
    val edges = tr.find("RoutingGraph.edges")
    val raster = Seq("popularity", "greenery").flatMap { p =>
      val med = tr.find(s"RasterSampler.medianPass.$p")
      val smp = tr.find(s"RasterSampler.sample.$p")
      val tiles = med.counts("tiles")
      val fetches = med.counts("fetches")
      Seq(Metric(s"raster.$p.address.s", tr.find(s"RasterSampler.address.$p").seconds, "s"),
        Metric(s"raster.$p.tiles", tiles, "count"),
        Metric(s"raster.$p.samples", smp.counts("rows"), "count"),
        Metric(s"raster.$p.sample.s", smp.seconds, "s"),
        Metric(s"raster.$p.median.s", med.seconds, "s"),
        Metric(s"raster.$p.fetches", fetches, "count"),
        Metric(s"raster.$p.fetches_per_tile", if (tiles > 0) fetches / tiles else 0.0, "ratio"))
    }
    val write = tr.find("Upsert.writeAtomic")
    parseMetrics(tr, log) ++ Seq(
      Metric("osm.edges.s", edges.seconds, "s"),
      Metric("osm.edges.rows", edges.counts("rows"), "count")) ++ raster ++ Seq(
      Metric("ops.upsert.s", tr.find("Upsert.upsert").seconds, "s"),
      Metric("ops.write.s", write.seconds, "s"),
      Metric("ops.write.mb", write.counts("mb"), "MB")) ++ importMetrics(tr)
  }

  private def importMetrics(tr: Tracer): Seq[Metric] = {
    val snap = tr.find("RoutingGraph.snapPois[towns]")
    Seq(
      Metric("osm.features.s", tr.find("FeatureTables.taggedWayFeatures[towns]").seconds, "s"),
      Metric("osm.relpolys.s", tr.find("FeatureTables.relationPolygons[towns]").seconds, "s"),
      Metric("osm.snap_pois.s", snap.seconds, "s"),
      Metric("osm.snap_pois.candidates", snap.counts("candidates"), "count")) ++
      Tables.map(t => Metric(s"pipeline.import.$t.s", tr.find(s"pipeline.import.$t").seconds, "s"))
  }
}

object EnrichMetro {
  /** The tables of `OsmImport.writeAll`, in its order. */
  val Tables: Seq[String] = Seq("planet_osm_point", "planet_osm_line",
    "planet_osm_polygon", "planet_osm_roads", "planet_osm_rels", "ways",
    "ways_vertices_pgr", "pointsOfInterest")
  val Towns = 4
  /** Dense in buildings, relations and POIs. */
  val TownsShape: TownShape = TownShape(cols = 12, rows = 12, blockM = 120, shapeNodes = 1,
    buildingsPerBlock = 6, poiShare = 0.6, parkShare = 0.08,
    restrictionShare = 0.08, signalShare = 0.2)
}



/** The gram-join family of the register over a seeded ~90% sample of a
  * `documents` table shaped like the sf0.1 test data. A timed pass runs
  * [[CorpusGram.Timed]]; the traced run also runs [[CorpusGram.Traced]]
  * after its pass, for their per-query metrics.
  */
final class CorpusGram(spark: SparkSession, dir: File, seed: Long)
    extends Workload(spark, dir, seed) {
  val name = "corpus_gram"
  val corpusDocs = 300
  private val results = mutable.LinkedHashMap.empty[String, (Long, BigDecimal)]
  private var reference = Map.empty[String, (Long, BigDecimal)]
  private var batchDocs = 0L
  private def sf = path("sf")

  def generate(): Unit = {
    import spark.implicits._
    val docs = SyntheticDocs.sample(SyntheticDocs.corpus(corpusDocs), seed)
    batchDocs = docs.count(_.doc_id % 10 == 0).toLong
    docs.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(s"$sf/documents.parquet")
  }

  /** Run query `q` to its row count and digest. */
  private def run(q: String): (Long, BigDecimal) = {
    val r = Workload.digest(SparkEntry.queries(q)(spark, sf))
    results(q) = r
    r
  }

  def pass(): Unit = CorpusGram.Timed.foreach(run)

  /** The ingest gate has one row per batch doc (doc_id % 10 = 0); every
    * query's row count and digest repeat those of the first pass.
    */
  def check(): Option[String] = {
    val got = results.toMap
    results.clear()
    if (reference.isEmpty) reference = got
    val gate = got.get("q118_ingest_gate").map(_._1)
    if (!gate.contains(batchDocs)) Some(s"q118_ingest_gate has $gate rows, expected $batchDocs")
    else CorpusGram.Timed.find(q => got.get(q) != reference.get(q))
      .map(q => s"$q gave ${got.get(q)}, earlier passes ${reference.get(q)}")
  }

  private def tracedQuery(tr: Tracer, q: String): Unit =
    tr.span(s"SparkEntry.queries($q)")(c => c("rows", run(q)._1.toDouble))

  def traced(tr: Tracer): Unit = CorpusGram.Timed.foreach(tracedQuery(tr, _))

  override def tracedExtra(tr: Tracer): Option[String] = {
    CorpusGram.Traced.foreach(tracedQuery(tr, _))
    results.clear()
    None
  }

  def layerMetrics(tr: Tracer, log: StageLog, cores: Int): Seq[Metric] =
    CorpusGram.Queries.flatMap { q =>
      val s = tr.find(s"SparkEntry.queries($q)")
      val w = log.window(tr.epochMs(s.startNs), tr.epochMs(s.endNs), cores)
      Seq(Metric(s"queries.$q.s", s.seconds, "s"),
        Metric(s"queries.$q.jobs", w.jobs.toDouble, "count"),
        Metric(s"queries.$q.idle_s", w.idleS, "s"))
    }
}

object CorpusGram {
  /** A timed pass: the full-corpus Jaccard join and the ingest gate (whose
    * Jaccard signal probes a GramIndex incrementally).
    */
  val Timed: Seq[String] = Seq("q86_jaccard_join", "q118_ingest_gate")
  /** The rest of the gram family and the full ingest gate: traced only. */
  val Traced: Seq[String] = Seq("q103_cosine_join", "q105_containment_join",
    "q112_incremental_jaccard", "q113_incremental_containment", "q114_incremental_cosine",
    "q115_gram_index_append", "q116_gram_index_store", "q139_full_ingest_gate")
  val Queries: Seq[String] = Timed ++ Traced
}
