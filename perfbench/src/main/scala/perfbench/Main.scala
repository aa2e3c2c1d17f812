package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM: set-up, warm-up passes, timed passes for
  * the requested seconds, and with `--trace 1` a separate traced pass.
  * Writes the result as JSON to `--result`; `run.py` prints it.
  *
  * {{{
  * perfbench.Main --workload enrich_metro --seed 1 --seconds 20 --trace 0
  *   --work <dir> --result <file> --trace-out <file> --cores 4 --launch-ms <epoch ms>
  * }}}
  */
object Main {

  /** Every per-layer metric and its unit; a workload that does not run a
    * layer reports that layer's metrics as 0.
    */
  val LayerMetrics: Seq[(String, String)] = {
    val osm = Seq("osm.parse.s" -> "s", "osm.parse.tasks" -> "count",
      "osm.parse.elements" -> "count", "osm.edges.s" -> "s", "osm.edges.rows" -> "count",
      "osm.features.s" -> "s", "osm.relpolys.s" -> "s", "osm.snap_pois.s" -> "s",
      "osm.snap_pois.candidates" -> "count")
    val raster = Seq("popularity", "greenery").flatMap(p => Seq(
      s"raster.$p.address.s" -> "s", s"raster.$p.tiles" -> "count",
      s"raster.$p.samples" -> "count", s"raster.$p.sample.s" -> "s",
      s"raster.$p.median.s" -> "s", s"raster.$p.fetches" -> "count",
      s"raster.$p.fetches_per_tile" -> "ratio"))
    val ops = Seq("ops.upsert.s" -> "s", "ops.write.s" -> "s", "ops.write.mb" -> "MB")
    val pipeline = EnrichMetro.Tables.map(t => s"pipeline.import.$t.s" -> "s")
    val queries = CorpusGram.Queries.flatMap(q => Seq(
      s"queries.$q.s" -> "s", s"queries.$q.jobs" -> "count", s"queries.$q.idle_s" -> "s"))
    val spark = SparkWindow(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).metrics.map(m => m.name -> m.unit)
    osm ++ raster ++ ops ++ pipeline ++ queries ++ spark ++ Seq("trace.overhead_s" -> "s")
  }

  /** The first pass of a JVM takes ~2.5× a warm one and the next still
    * ~10% more; timed passes start after two.
    */
  private val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = o("cores").toInt
    val work = new File(o("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[perfbench] master=local[$cores] defaultParallelism=" +
      s"${spark.sparkContext.defaultParallelism} shuffle.partitions=$cores")
    println("[perfbench] jvm flags: " +
      ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" "))
    val w = Workload(o("workload"), spark, new File(work, "data"), o("seed").toLong)
    val result =
      try run(spark, w, o("seconds").toDouble, o("trace") == "1", o("launch-ms").toLong,
        cores, new File(o("trace-out")))
      finally spark.stop()
    val pw = new PrintWriter(new File(o("result")), StandardCharsets.UTF_8.name)
    try pw.println(result) finally pw.close()
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full GC, taken when a pass ends and before its
    * cached tables are released. The second GC, after a pause, frees what
    * Spark's ContextCleaner dropped in reaction to the first.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def run(spark: SparkSession, w: Workload, runSeconds: Double, trace: Boolean,
      launchMs: Long, cores: Int, traceOut: File): String = {
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    var attempted, failed = 0
    /** One pass: `body` runs it and returns its output check's error. */
    def attempt(label: String)(body: => Option[String]): Boolean = {
      attempted += 1
      val err = try body catch { case NonFatal(e) => Some(e.toString) }
      err.foreach { e => failed += 1; println(s"[perfbench] $label FAILED: $e") }
      err.isEmpty
    }
    def release(): Unit = { spark.catalog.clearCache(); System.gc() }

    // Inputs are generated three times; set-up counts them at the median.
    val genS = (1 to 3).map { _ => val t0 = System.nanoTime(); w.generate(); seconds(t0) }
    val warmS = (1 to WarmupPasses).map { i =>
      val w0 = System.nanoTime()
      attempt(s"warm-up pass $i") { w.pass(); w.check() }
      release()
      seconds(w0)
    }
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0 -
      (genS.sum - Intervals.median(genS))
    println(f"[perfbench] ${w.name} seed=${w.seed} session=$sessionS%.2f s, generate=" +
      genS.map(x => f"$x%.2f").mkString("/") + " s, warm-up passes=" +
      warmS.map(x => f"$x%.2f").mkString("/") + f" s, setup_s=$setupS%.3f")

    val runs = mutable.ArrayBuffer.empty[Double]
    var heapMb = 0.0
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || seconds(t0) < runSeconds) {
      n += 1
      var dt = 0.0
      val ok = attempt(s"timed pass $n") {
        val p0 = System.nanoTime()
        w.pass()
        dt = seconds(p0)
        heapMb = math.max(heapMb, liveHeapMb())
        w.check()
      }
      if (ok) runs += dt
      release()
    }
    val runS = if (runs.isEmpty) Double.NaN else Intervals.median(runs.toSeq)
    println(f"[perfbench] ${w.name} run_s=$runS%.4f (median of ${runs.size} passes: " +
      runs.map(x => f"$x%.3f").mkString(" ") + f") heap_peak_mb=$heapMb%.1f")

    val metrics: Seq[Metric] =
      if (!trace) Seq(Metric("setup_s", setupS, "s"), Metric("run_s", runS, "s"),
        Metric("heap_peak_mb", heapMb, "MB"))
      else {
        val log = new StageLog
        val tr = new Tracer(s"${w.name}-seed${w.seed}-traced")
        spark.sparkContext.addSparkListener(log)
        attempt("traced pass") { tr.span("pass")(_ => w.traced(tr)); w.check() }
        attempt("traced extras")(w.tracedExtra(tr))
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(log)
        val root = tr.find("pass")
        val measured = w.layerMetrics(tr, log, cores) ++
          log.window(tr.epochMs(root.startNs), tr.epochMs(root.endNs), cores).metrics :+
          Metric("trace.overhead_s", root.seconds - runS, "s")
        writeSpans(traceOut, tr, log, cores)
        println(s"[perfbench] spans written to $traceOut")
        val byName = measured.map(m => m.name -> m).toMap
        require(byName.keySet.subsetOf(LayerMetrics.map(_._1).toSet),
          s"undeclared metrics: ${byName.keySet -- LayerMetrics.map(_._1)}")
        release()
        LayerMetrics.map { case (k, u) => byName.getOrElse(k, Metric(k, 0.0, u)) }
      }
    println(f"[perfbench] fail_ratio=${failed.toDouble / attempted}%.4f ($failed/$attempted passes failed)")
    Json.obj(Seq(
      "correct" -> (failed == 0 && !runS.isNaN).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "samples" -> runs.size.toString))
  }

  private def writeSpans(f: File, tr: Tracer, log: StageLog, cores: Int): Unit = {
    val all = tr.spans
    val rows = all.map { s =>
      val win = log.window(tr.epochMs(s.startNs), tr.epochMs(s.endNs), cores)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "pass" -> Json.str(s.pass), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(tr.epochMs(s.startNs)), "end_ms" -> Json.num(tr.epochMs(s.endNs)),
        "dur_s" -> Json.num(s.seconds), "self_s" -> Json.num(Tracer.selfSeconds(s, all)),
        "first_stage_tasks" -> log.stagesIn(tr.epochMs(s.startNs), tr.epochMs(s.endNs))
          .headOption.fold("0")(_.numTasks.toString),
        "counts" -> Json.obj(s.counts.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "spark" -> Json.obj(win.metrics.map(m => m.name -> Json.num(m.value)))))
    }
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, StandardCharsets.UTF_8.name)
    try pw.println(rows.mkString("[\n", ",\n", "\n]")) finally pw.close()
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
