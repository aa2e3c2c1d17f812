package graft.osm

import java.io.{BufferedInputStream, InputStream}
import java.sql.Timestamp
import java.time.Instant
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A relation member. Element schema contract per FIXTURES.md B2, input
  * format per the reference sample (`osm/example.osm:4-7` node attrs + tag
  * children, `:7046-7055` way with ORDERED nd refs, `:19350-19378` relation
  * members).
  */
case class OsmMember(mtype: String, ref: Long, role: String)

/** Union row for single-pass parsing (kind ∈ node|way|relation). */
private[osm] case class OsmRaw(
    kind: String, id: Long, lat: Double, lon: Double,
    version: Option[Int], changeset: Option[Long], ts: Option[Timestamp],
    user: Option[String], uid: Option[Long], visible: Option[Boolean],
    nds: Seq[Long], members: Seq[OsmMember], tags: Map[String, String])

/** The parsed element tables of one OSM extract. */
case class OsmTables(nodes: DataFrame, ways: DataFrame, relations: DataFrame)

/** OSM XML source (SURVEY §2.1 S1): StAX pull-parse inside mapPartitions.
  *
  * Parallelism model: one task per input file — planet-scale OSM arrives as
  * many regional extracts (or PBF blocks), so file granularity is the
  * natural 100 TB sharding; a single giant XML would need element-boundary
  * splitting (documented future path, SURVEY §7 risks). The XML never
  * touches the driver: `binaryFiles` hands each file to an executor, whose
  * task streams it straight into the StAX reader (never a whole-file byte
  * array or string), and the three element kinds are split from ONE
  * cached pass.
  */
object OsmXml {

  def parse(spark: SparkSession, path: String): OsmTables = {
    import spark.implicits._
    val raw: Dataset[OsmRaw] = spark.sparkContext
      .binaryFiles(path)
      .flatMap { case (_, stream) =>
        val in = new BufferedInputStream(stream.open())
        try parseElements(in) finally in.close()
      }
      .toDS()
      .cache()

    val meta = Seq("version", "changeset", "ts", "user", "uid", "visible")
    val nodes = raw.filter($"kind" === "node")
      .select((Seq("id", "lat", "lon") ++ meta ++ Seq("tags")).map(col): _*)
    val ways = raw.filter($"kind" === "way")
      .select((Seq("id") ++ meta ++ Seq("nds", "tags")).map(col): _*)
    val relations = raw.filter($"kind" === "relation")
      .select((Seq("id") ++ meta ++ Seq("members", "tags")).map(col): _*)
    OsmTables(nodes, ways, relations)
  }

  /** Pull-parse one document's worth of XML into element rows; the caller
    * owns (and closes) `in`.
    */
  private[osm] def parseElements(in: InputStream): Iterator[OsmRaw] = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = factory.createXMLStreamReader(in)
    val out = mutable.ArrayBuffer.empty[OsmRaw]

    var kind: String = null
    var id = 0L
    var lat, lon = 0.0
    var version: Option[Int] = None
    var changeset: Option[Long] = None
    var ts: Option[Timestamp] = None
    var user: Option[String] = None
    var uid: Option[Long] = None
    var visible: Option[Boolean] = None
    val nds = mutable.ArrayBuffer.empty[Long]
    val members = mutable.ArrayBuffer.empty[OsmMember]
    val tags = mutable.Map.empty[String, String]

    def attr(name: String): Option[String] = {
      var i = 0
      while (i < r.getAttributeCount) {
        if (r.getAttributeLocalName(i) == name) return Some(r.getAttributeValue(i))
        i += 1
      }
      None
    }

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case k @ ("node" | "way" | "relation") =>
              kind = k
              id = attr("id").map(_.toLong).getOrElse(0L)
              lat = attr("lat").map(_.toDouble).getOrElse(0.0)
              lon = attr("lon").map(_.toDouble).getOrElse(0.0)
              version = attr("version").map(_.toInt)
              changeset = attr("changeset").map(_.toLong)
              ts = attr("timestamp")
                .map(t => Timestamp.from(Instant.parse(t)))
              user = attr("user")
              uid = attr("uid").map(_.toLong)
              visible = attr("visible").map(_.toBoolean)
              nds.clear(); members.clear(); tags.clear()
            case "nd" if kind == "way" =>
              attr("ref").foreach(v => nds += v.toLong)
            case "member" if kind == "relation" =>
              members += OsmMember(
                attr("type").getOrElse(""),
                attr("ref").map(_.toLong).getOrElse(0L),
                attr("role").getOrElse(""))
            case "tag" if kind != null =>
              for (k <- attr("k"); v <- attr("v")) tags(k) = v
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case k @ ("node" | "way" | "relation") if k == kind =>
              out += OsmRaw(kind, id, lat, lon, version, changeset, ts, user,
                uid, visible, nds.toVector, members.toVector, tags.toMap)
              kind = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.iterator
  }
}
