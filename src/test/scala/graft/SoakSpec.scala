package graft

import java.io.File

/** The whole soak at a small shape: every stage, every bound, on the
  * shared test session. A stage that crashes or breaks its bound fails
  * here, not in the next full-size run.
  */
class SoakSpec extends SparkSpec {

  private def soakTempEntries(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith("soak_")).toSet)

  private def cachedEntries(): Int =
    org.apache.spark.sql.graftbridge.CacheEntries.count(spark)

  test("Soak.run at 10k docs / 2k vecs: every stage runs and holds its bound") {
    val (tmpBefore, cachedBefore) = (soakTempEntries(), cachedEntries())
    val t0 = System.nanoTime()
    val stages = Soak.run(spark, 10000L, 2000L)
    info(f"${stages.size} stages, ${stages.map(_._2).sum}%.1f s of stage " +
      f"time, ${(System.nanoTime() - t0) / 1e9}%.1f s wall")
    // a stage gated off at this shape would show as a short count
    stages.size shouldBe 105
    stages.map(_._1).distinct.size shouldBe stages.size
    (soakTempEntries() -- tmpBefore) shouldBe empty
    cachedEntries() shouldBe cachedBefore
  }
}
