package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.osm.{OsmXml, RoutingGraph}
import graft.pipeline.OsmImport

class SyntheticOsmSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val shape = TownShape(cols = 9, rows = 7, blockM = 120, shapeNodes = 1,
    buildingsPerBlock = 3, poiShare = 0.6, parkShare = 0.15,
    restrictionShare = 0.2, signalShare = 0.2)

  private def xml(seed: Long, towns: Seq[Int]): (String, OsmCounts) = {
    val sb = new java.lang.StringBuilder
    val c = SyntheticOsm.writeTowns(sb, seed, shape, towns)
    (sb.toString, c)
  }

  private def tempDir(): File = Files.createTempDirectory("synthetic-osm").toFile

  test("the same seed gives byte-identical XML; another seed does not") {
    assert(xml(7, Seq(0, 1))._1 == xml(7, Seq(0, 1))._1)
    assert(xml(7, Seq(0))._1 != xml(8, Seq(0))._1)
  }

  test("files written to disk repeat byte for byte, in both modes") {
    for (perTown <- Seq(false, true)) {
      val (a, _) = SyntheticOsm.write(tempDir(), 3, shape, 2, perTown)
      val (b, _) = SyntheticOsm.write(tempDir(), 3, shape, 2, perTown)
      assert(a.size == (if (perTown) 2 else 1))
      a.zip(b).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)))
      }
    }
  }

  test("the feature mix is present") {
    val (s, c) = xml(5, Seq(0))
    Seq("\"construction\"", "\"residential\"", "\"multipolygon\"", "\"restriction\"",
      "k=\"building\"", "k=\"amenity\"", "k=\"shop\"").foreach(t => assert(s.contains(t), t))
    assert(c.multipolygons > 0 && c.buildings > 0 && c.pois > 0 && c.relations > c.multipolygons)
  }

  test("OsmXml.parse counts and the routing tables equal the generator's counts") {
    for (perTown <- Seq(false, true)) {
      val dir = tempDir()
      val (_, c) = SyntheticOsm.write(dir, 11, shape, 2, perTown)
      val t = OsmXml.parse(spark, dir.getPath)
      assert(t.nodes.count() == c.nodes)
      assert(t.ways.count() == c.ways)
      assert(t.relations.count() == c.relations)
      val routable = RoutingGraph.routableWays(t.ways)
      val gids = RoutingGraph.edges(routable, t.nodes).select("gid").collect().map(_.getLong(0))
      assert(gids.sorted.toSeq == c.edgeGids.sorted)
      assert(RoutingGraph.vertices(routable, t.nodes).count() == c.vertices)
      spark.catalog.clearCache()
    }
  }

  test("every table of OsmImport.writeAll has the generator's row count") {
    val dir = tempDir()
    val (_, c) = SyntheticOsm.write(new File(dir, "osm"), 13, shape, 2, perTown = true)
    val out = new File(dir, "out").getPath
    OsmImport.writeAll(spark, new File(dir, "osm").getPath, out)
    c.importTables.foreach { case (table, n) =>
      assert(spark.read.parquet(s"$out/$table").count() == n, table)
    }
    spark.catalog.clearCache()
  }

  test("one POI in ten sits mid-block, beyond the snapping distance") {
    val dir = tempDir()
    SyntheticOsm.write(dir, 17, shape.copy(cols = 16, rows = 16, poiShare = 1.0), 1, perTown = false)
    val imp = OsmImport.importAll(spark, dir.getPath)
    val unsnapped = imp.pois.filter("edge_gid IS NULL").count()
    val all = imp.pois.count()
    assert(unsnapped > 0 && unsnapped < all / 4, s"$unsnapped of $all")
    spark.catalog.clearCache()
  }
}
