package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One SparkSession shared across every suite in the forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh")
    sys.addShutdownHook(graft.queries.Scratch.deleteTree(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The reference's sample OSM extract (read-only input data; not copied
    * into this repo). Suites that need it skip when absent.
    */
  val ExampleOsm = "/root/reference/osm/example.osm"

  val Sf0001 = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
}

/** A suite-level fixture directory: made on first use, deleted with
  * everything under it in `afterAll` (per-test directories go through
  * [[graft.queries.Scratch.withTempDir]] instead).
  */
trait SuiteTempDir extends BeforeAndAfterAll { this: Suite =>
  private var made = Option.empty[java.nio.file.Path]

  protected def suiteTempDir(prefix: String): java.nio.file.Path =
    synchronized {
      if (made.isEmpty) made = Some(java.nio.file.Files.createTempDirectory(prefix))
      made.get
    }

  override protected def afterAll(): Unit =
    try made.foreach(graft.queries.Scratch.deleteTree)
    finally super.afterAll()
}
