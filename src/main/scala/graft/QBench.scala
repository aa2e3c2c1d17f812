package graft

/** Single-query micro-bench under the SAME JVM flags as graft.Bench (the
  * spark-submit flag set in build.sbt — spark-shell timings are not
  * comparable: without `-Djdk.reflect.useDirectMethodHandle=false` wide
  * joins run ~4× slower). Usage:
  *
  *   sbt "runMain graft.QBench <sfDir> <nRuns> <queryName> [queryName ...]"
  *
  * One untimed warmup + n timed runs per query, min/median printed.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup (JIT)
      val ts = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[qbench] $name%-28s min ${ts.head}%7.3f s  med ${ts(ts.size / 2)}%7.3f s  (n=$runs)")
    }
    spark.stop()
  }
}
