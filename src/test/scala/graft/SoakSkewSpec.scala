package graft

/** The soak's pinned-exchange skew check must see empty partitions. */
class SoakSkewSpec extends SparkSpec {

  test("partitionSkew: hot-few / rest-empty fails the bound, uniform passes") {
    Soak.partitionSkew(Seq(0L, 0L, 0L, 9L)) should be > 4.0
    Soak.partitionSkew(Seq(0L, 0L, 9L, 9L, 9L)) shouldBe 1.0
    Soak.partitionSkew(Seq(5L, 5L, 5L, 5L)) shouldBe 1.0
    Soak.partitionSkew(Seq(4L, 6L, 5L, 5L)) shouldBe 1.2 +- 1e-12
    Soak.partitionSkew(Seq(0L, 0L)) shouldBe 1.0
  }

  test("partitionRows counts empty partitions, so one hot partition fails") {
    import spark.implicits._
    val hot = Seq.fill(9)(1L).toDF("k").repartition(4, $"k")
    val rows = Soak.partitionRows(hot)
    rows should have length 4
    rows.sum shouldBe 9L
    rows.count(_ == 0L) shouldBe 3
    Soak.partitionSkew(rows) should be > 4.0
    val spread = spark.range(0, 400).toDF("k").repartition(4, $"k")
    Soak.partitionSkew(Soak.partitionRows(spread)) should be <= 4.0
  }
}
