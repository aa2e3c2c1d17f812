package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.raster.{CachingTileStore, RasterSampler, SyntheticTileStore, ValueFns}

class InstrumentSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StageLog.{StageRec, TaskRec}

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("union length merges overlaps and clips to the window") {
    val ivs = Seq((10.0, 30.0), (20.0, 50.0), (60.0, 70.0), (65.0, 68.0), (90.0, 200.0))
    assert(Intervals.unionLength(ivs, 0, 100) == 40 + 10 + 10)
    assert(Intervals.unionLength(ivs, 25, 65) == 25 + 5)
    assert(Intervals.unionLength(Nil, 0, 100) == 0)
    assert(Intervals.unionLength(Seq((5.0, 5.0), (120.0, 130.0)), 0, 100) == 0)
  }

  test("median of odd and even samples") {
    assert(Intervals.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Intervals.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a window counts its jobs, stages and tasks, and idle time outside stages") {
    val log = new StageLog
    log.add(
      job = Seq(1000L, 1400L, 5000L),
      stages = Seq(
        StageRec(1, 0, 1000, 1200, 2), // 200 ms
        StageRec(2, 0, 1100, 1300, 1), // overlaps stage 1: union 1000..1300
        StageRec(3, 0, 1500, 1900, 4), // the longest stage
        StageRec(9, 0, 5000, 5100, 1)), // outside the window
      tasks = Seq(
        TaskRec(1, 0, 100, 100, 10, 1 << 20, 0, 0),
        TaskRec(1, 0, 100, 100, 0, 1 << 20, 0, 0),
        TaskRec(2, 0, 150, 150, 0, 0, 2 << 20, 0),
        TaskRec(3, 0, 100, 80, 0, 0, 0, 0),
        TaskRec(3, 0, 100, 80, 0, 0, 0, 0),
        TaskRec(3, 0, 200, 190, 0, 0, 0, 3 << 20),
        TaskRec(3, 0, 400, 350, 0, 0, 0, 0),
        TaskRec(9, 0, 100, 100, 0, 0, 0, 0)))
    val w = log.window(1000, 2000, cores = 2)
    assert(w.jobs == 2 && w.stages == 3 && w.tasks == 7)
    assert(w.idleS == (1000 - 300 - 400) / 1000.0)
    assert(w.taskS == 1.05)
    assert(w.gcS == 0.01)
    assert(math.abs(w.slotUtil - 1050.0 / (1000 * 2)) < 1e-12)
    assert(w.shuffleWriteMb == 2.0 && w.shuffleReadMb == 2.0 && w.spillMb == 3.0)
    // Longest stage 3: max 400 ms over median (100 + 200) / 2 ms.
    assert(w.skew == 400.0 / 150.0)
    assert(log.stagesIn(1000, 2000).head.stageId == 1)
    assert(log.window(2000, 3000, 2).idleS == 1.0)
  }

  test("self time is the duration minus the union of direct children") {
    val root = Span(0, -1, "pass", "p", 0L, 100L, Map.empty)
    val kids = Seq(
      Span(1, 0, "a", "p", 10L, 30L, Map.empty),
      Span(2, 0, "b", "p", 20L, 50L, Map.empty),
      Span(3, 0, "c", "p", 60L, 70L, Map.empty),
      Span(4, 3, "grandchild", "p", 61L, 69L, Map.empty))
    val all = root +: kids
    // Children cover [10, 50] and [60, 70] of [0, 100].
    assert(Tracer.selfSeconds(root, all) == 50 / 1e9)
    assert(Tracer.selfSeconds(kids(2), all) == 2 / 1e9)
    assert(Tracer.selfSeconds(kids(0), all) == 20 / 1e9)
  }

  test("the tracer records parents, counts and a shared pass id") {
    val tr = new Tracer("pass-1")
    tr.span("outer") { c =>
      c("rows", 3)
      tr.span("inner")(_ => ())
    }
    tr.span("next")(_ => ())
    val Seq(outer, inner, next) = tr.spans
    assert(outer.parent == -1 && inner.parent == outer.id && next.parent == -1)
    assert(outer.counts == Map("rows" -> 3.0))
    assert(tr.spans.forall(_.pass == "pass-1"))
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(tr.epochMs(outer.endNs) >= tr.epochMs(outer.startNs))
  }

  test("the counting store counts the fetches that pass the LRU") {
    val acc = spark.sparkContext.longAccumulator
    val counted = new CountingTileStore(new SyntheticTileStore(16, "L", 1L), acc)
    val lru = new CachingTileStore(counted, capacity = 2)
    Seq((1L, 1L), (1L, 1L), (2L, 1L), (1L, 1L)).foreach { case (x, y) => lru.fetch(x, y, 3) }
    assert(acc.value == 2)
    // (3, 1) evicts the least recent (2, 1); fetching that evicts (1, 1).
    Seq((3L, 1L), (2L, 1L), (1L, 1L)).foreach { case (x, y) => lru.fetch(x, y, 3) }
    assert(acc.value == 5)
    assert(counted.tileSize == 16)
  }

  test("the counting store sees the sampler's fetches on executors") {
    import spark.implicits._
    // Two coordinates in each of two z12 tiles.
    val coords = Seq((1L, 0.001, 0.001), (1L, 0.002, 0.002), (2L, 0.2, 0.001), (2L, 0.21, 0.002))
      .toDF("gid", "lng", "lat")
    val tiles = RasterSampler.address(coords, 12).select("tx", "ty").distinct().count()
    assert(tiles == 2)
    val acc = spark.sparkContext.longAccumulator
    val store = new CountingTileStore(new SyntheticTileStore(256, "L", 42L), acc)
    val out = RasterSampler.sample(RasterSampler.address(coords, 12), store, 12, ValueFns.strava)
    assert(out.count() == 4)
    assert(acc.value >= tiles)
  }
}
