package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.util.LongAccumulator

import graft.raster.{Tile, TileStore}

/** Interval arithmetic on closed [start, end] pairs (any time unit). */
object Intervals {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** A metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Spark's own counters over one time window, as the `spark.*` metrics. */
final case class SparkWindow(
    jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
    slotUtil: Double, idleS: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double, spillMb: Double, skew: Double) {

  def metrics: Seq[Metric] = Seq(
    Metric("spark.jobs", jobs.toDouble, "count"), Metric("spark.stages", stages.toDouble, "count"),
    Metric("spark.tasks", tasks.toDouble, "count"), Metric("spark.task_s", taskS, "s"),
    Metric("spark.gc_s", gcS, "s"), Metric("spark.slot_util", slotUtil, "ratio"),
    Metric("spark.idle_s", idleS, "s"), Metric("spark.shuffle_write_mb", shuffleWriteMb, "MB"),
    Metric("spark.shuffle_read_mb", shuffleReadMb, "MB"), Metric("spark.spill_mb", spillMb, "MB"),
    Metric("spark.skew", skew, "ratio"))
}

/** Records jobs, stages and tasks as Spark reports them. The benchmark
  * attaches it with `sparkContext.addSparkListener` for the traced pass
  * only. Times are epoch milliseconds, as Spark stamps its events.
  */
final class StageLog extends SparkListener {
  import StageLog.{StageRec, TaskRec}

  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  private val taskRecs = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    stageRecs += StageRec(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(done), done, i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskRecs += TaskRec(e.stageId, e.stageAttemptId,
      e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.diskBytesSpilled)
  }

  /** Record directly; lets the window arithmetic be tested without Spark. */
  def add(job: Seq[Long], stages: Seq[StageRec], tasks: Seq[TaskRec]): Unit = synchronized {
    jobStarts ++= job; stageRecs ++= stages; taskRecs ++= tasks
  }

  /** Stages submitted in [fromMs, toMs], with their tasks. */
  def stagesIn(fromMs: Double, toMs: Double): Seq[StageRec] = synchronized {
    stageRecs.filter(s => s.submittedMs >= fromMs && s.submittedMs <= toMs)
      .sortBy(s => (s.submittedMs, s.stageId)).toSeq
  }

  /** The counters of the window [fromMs, toMs] on `cores` task slots:
    * jobs started and stages submitted in it, the tasks of those stages,
    * and idle time = wall time in which no stage was running.
    */
  def window(fromMs: Double, toMs: Double, cores: Int): SparkWindow = synchronized {
    val wallMs = math.max(toMs - fromMs, 1e-9)
    val stages = stagesIn(fromMs, toMs)
    val keys = stages.map(s => (s.stageId, s.attempt)).toSet
    val tasks = taskRecs.filter(t => keys((t.stageId, t.attempt)))
    val busyMs = Intervals.unionLength(
      stageRecs.map(s => (s.submittedMs.toDouble, s.completedMs.toDouble)).toSeq, fromMs, toMs)
    val runMs = tasks.map(_.runMs).sum.toDouble
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val longest = stages.maxBy(s => (s.completedMs - s.submittedMs, -s.stageId))
        val ds = tasks.filter(t => t.stageId == longest.stageId && t.attempt == longest.attempt)
          .map(_.durationMs.toDouble)
        if (ds.isEmpty) 0.0 else ds.max / math.max(Intervals.median(ds.toSeq), 1.0)
      }
    val mb = 1024.0 * 1024.0
    SparkWindow(
      jobs = jobStarts.count(t => t >= fromMs && t <= toMs),
      stages = stages.size,
      tasks = tasks.size,
      taskS = runMs / 1000.0,
      gcS = tasks.map(_.gcMs).sum / 1000.0,
      slotUtil = runMs / (wallMs * cores),
      idleS = (wallMs - busyMs) / 1000.0,
      shuffleWriteMb = tasks.map(_.shuffleWriteB).sum / mb,
      shuffleReadMb = tasks.map(_.shuffleReadB).sum / mb,
      spillMb = tasks.map(_.spillB).sum / mb,
      skew = skew)
  }
}

object StageLog {
  final case class StageRec(stageId: Int, attempt: Int, submittedMs: Long,
      completedMs: Long, numTasks: Int)
  final case class TaskRec(stageId: Int, attempt: Int, durationMs: Long,
      runMs: Long, gcMs: Long, shuffleWriteB: Long, shuffleReadB: Long, spillB: Long)
}

/** One traced call: `parent` is -1 for a pass's root span. */
final case class Span(id: Int, parent: Int, name: String, pass: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls into the engine's public API. A
  * span's body may attach counts to it through the `count` callback.
  */
final class Tracer(val pass: String) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: ((String, Double) => Unit) => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val counts = mutable.LinkedHashMap.empty[String, Double]
    stack = id :: stack
    val t0 = System.nanoTime()
    try body((k, v) => counts(k) = v)
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      done += Span(id, parent, name, pass, t0, t1, counts.toMap)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  def find(name: String): Span =
    spans.find(_.name == name).getOrElse(sys.error(s"no span named $name"))

  /** Epoch milliseconds of a `System.nanoTime()` reading (Spark's clock). */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

object Tracer {

  /** A span's self time: its duration minus the part of it that its
    * direct children cover.
    */
  def selfSeconds(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == span.id).map(c => (c.startNs.toDouble, c.endNs.toDouble))
    val covered = Intervals.unionLength(kids, span.startNs.toDouble, span.endNs.toDouble)
    (span.endNs - span.startNs - covered) / 1e9
  }
}

/** Counts every fetch that reaches `underlying` in `fetches`. Placed
  * beneath the sampler's per-partition LRU (`CachingTileStore`), so the
  * count is the fetches the sampler really made.
  */
final class CountingTileStore(underlying: TileStore, fetches: LongAccumulator)
    extends TileStore {
  override def tileSize: Int = underlying.tileSize
  override def fetch(x: Long, y: Long, z: Int): Option[Tile] = {
    fetches.add(1L)
    underlying.fetch(x, y, z)
  }
}
