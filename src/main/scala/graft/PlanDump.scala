package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * plan-evidence half of the optimization rounds (OPTIMIZATION_r16.md):
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <query> [query...]"
  *
  * writes `<outDir>/<shortName>_<suffix>.txt` per query (shortName = the
  * "q103" prefix of "q103_cosine_join"). Same session configs as Bench so
  * the plans match what the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val short = name.takeWhile(_ != '_')
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${short}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $short ($name): ${plan.linesIterator.size} lines")
    }
    spark.stop()
  }
}
