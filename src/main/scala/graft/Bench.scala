package graft

object Bench {

  /** The driver keeps only the LAST 2000 CHARS of stdout and json-parses
    * the final line of that window (rounds 1-3 all came back parsed:null —
    * r2/r3 because the full-name 80-query line was ~2500 chars and got
    * beheaded by the window; round 8 because the errors array pushed the
    * compact line to 1999+). So: full-name min/median maps on earlier
    * lines for humans, and a compact final line — short "q01"-style keys
    * (the contract's own example uses "q1") at `dp`-decimal precision,
    * optionally keeping only the `foldBelow` slowest queries verbatim and
    * folding the fastest tail into one "rest" entry (their sum) — per-query
    * regression data matters most where the time is.
    *
    * `results` = (name, min, median) per query, -1 marking an error;
    * `errors` is a pre-rendered JSON array (capped — see [[finalLine]]).
    */
  def compactLine(results: Seq[(String, Double, Double)], errors: String,
      runs: Int, sfDir: String, dp: Int, foldBelow: Int): String = {
    val totalMin = results.map(_._2).filter(_ >= 0).sum
    val totalMed = results.map(_._3).filter(_ >= 0).sum
    val ranked = results.sortBy(-_._2)
    val kept = if (foldBelow <= 0) ranked else ranked.take(foldBelow)
    val rest = if (foldBelow <= 0) Nil else ranked.drop(foldBelow)
    val fmt = s"%.${dp}f"
    val entries = kept.sortBy(_._1).map { case (k, v, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt.format(v)
    } ++ (if (rest.nonEmpty)
      Seq("\"rest\":" + fmt.format(rest.map(_._2).filter(_ >= 0).sum),
          "\"n_rest\":" + rest.size) else Nil)
    val qs = entries.mkString("{", ",", "}")
    f"""{"metric":"total","value":$totalMin%.3f,"unit":"sec","n_runs":$runs,"value_median":$totalMed%.3f,"queries":$qs,"errors":$errors,"sf":"$sfDir"}"""
  }

  /** The compact line's errors array is BOUNDED: a mass-failure round
    * (round 8 had 18 event-query errors) must not push the line past the
    * 2000-char window — first 8 full names, then a "+N more" marker.
    * The human-facing full-name lines carry the complete list.
    */
  def cappedErrors(errNames: Seq[String]): String = {
    val shown = errNames.take(8).map("\"" + _ + "\"")
    val more = if (errNames.size > 8)
      Seq("\"+" + (errNames.size - 8) + " more\"") else Nil
    (shown ++ more).mkString("[", ",", "]")
  }

  /** Degrade until the line fits: 3dp → 2dp → fold the fast tail at 100/
    * 60/30/15/5 kept queries → a queries-free stub that cannot exceed the
    * budget. Every branch is <= 1900 chars by construction or by the
    * `find`; `BenchLineSpec` pins this against the live register in both
    * the all-green and all-error regimes.
    */
  def finalLine(results: Seq[(String, Double, Double)], runs: Int,
      sfDir: String): String = {
    val errNames = results.collect { case (k, v, _) if v < 0 => k }
    val errors = cappedErrors(errNames)
    val totalMin = results.map(_._2).filter(_ >= 0).sum
    Iterator(3 -> 0, 2 -> 0, 2 -> 100, 2 -> 60, 2 -> 30, 2 -> 15, 2 -> 5)
      .map { case (dp, fold) => compactLine(results, errors, runs, sfDir, dp, fold) }
      .find(_.length <= 1900)
      .getOrElse(
        f"""{"metric":"total","value":$totalMin%.3f,"unit":"sec","n_runs":$runs,"n_errors":${errNames.size},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Timed passes per query (beyond the untimed warmup). Host variance on
    // this box is ±30-40%; a single sample cannot distinguish noise from a
    // real regression, so we take `runs` samples and report BOTH the min
    // (steady-state capability) and the median (typical) per query.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Steady-state measurement: one untimed warmup pass first. A fresh JVM
    // charges the first execution of each generated operator loop its JIT
    // compilation (measured 2-3× on wide-output joins); production clusters
    // run warm executors, so the timed passes are the representative ones.
    ordered.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
    }
    // `runs` timed samples per query: pass-major order (all queries, then
    // repeat) so consecutive samples of one query land minutes apart —
    // a transient host-load spike then pollutes one sample, not all of them.
    val samples: Seq[Seq[(String, Double)]] = (1 to runs).map { _ =>
      ordered.map { case (name, fn) =>
        // Untimed inter-query cleanup: don't bill this query's measurement
        // for the previous query's garbage.
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        // A failed query must not contribute its (near-zero) time-to-failure
        // to the total: record -1 and list it under "errors".
        (name, if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results: Seq[(String, Double, Double)] = ordered.map(_._1).map { name =>
      val xs = samples.map(_.find(_._1 == name).get._2)
      if (xs.exists(_ < 0)) (name, -1.0, -1.0) else (name, xs.min, median(xs))
    }
    def jmap(f: ((String, Double, Double)) => (String, Double)): String =
      results.map { r => val (k, v) = f(r); s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    // Full, uncapped error list for the human-facing lines.
    val errorsFull = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val totalMin = results.map(_._2).filter(_ >= 0).sum
    val totalMed = results.map(_._3).filter(_ >= 0).sum
    val line = finalLine(results, runs, sfDir)
    println(s"""{"metric":"total_fullnames_min","value":$totalMin,"unit":"sec","queries":${jmap(r => (r._1, r._2))},"errors":$errorsFull,"sf":"$sfDir"}""")
    println(s"""{"metric":"total_fullnames_median","value":$totalMed,"unit":"sec","queries":${jmap(r => (r._1, r._3))},"errors":$errorsFull,"sf":"$sfDir"}""")
    println(s"compact line length: ${line.length}")
    // Print the JSON line LAST — after spark.stop() — so no shutdown logging
    // can land after it. stop() can itself throw (shutdown-hook / FS errors);
    // the metric line must still be emitted, so swallow and print regardless.
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => }
    println(line)
  }
}
