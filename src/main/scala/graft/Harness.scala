package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the harness mains (Bench, QBench, PlanDump,
  * Verify, Soak): `local[SPARK_GRAFT_CPUS]` (default: every available
  * core), shuffle partitions = cores, UI off, session time zone UTC. Each
  * main keeps its own log level.
  */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def session(): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
}
