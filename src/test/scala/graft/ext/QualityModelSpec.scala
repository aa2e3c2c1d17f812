package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Weak-label logistic quality gate: fit separates separable labels, and
  * scoring is exactly the recorded broadcast-literal dot (the certificate
  * contract the q195 twin relies on).
  */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  test("fit separates a separable weak label; score ≡ recorded-literal dot") {
    // label 1 = long repetitive docs, label 0 = short ones: separable on
    // every feature, so the fitted gate must admit the long class
    val docs = ((0 until 40).map(i =>
      (i.toLong, Seq.fill(30)("verbose filler words").mkString(" "))) ++
      (40 until 80).map(i => (i.toLong, "tiny doc")))
      .toDF("doc_id", "text")
    val m = QualityModel.fit(docs, "text", col("doc_id") < 40)
    m.weights.length shouldBe 3
    val scored = QualityModel.score(docs, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    (0 until 40).foreach(i => scored(i.toLong)._2 shouldBe 1)
    (40 until 80).foreach(i => scored(i.toLong)._2 shouldBe 0)
    // score is EXACTLY the left-associated literal dot over the features
    val Array(w1, w2, w3) = m.weights
    docs.collect().foreach { r =>
      val toks = r.getString(1).split(" ", -1)
      val lg = toks.length.toDouble * w1 +
        toks.distinct.length.toDouble * w2 +
        r.getString(1).length.toDouble * w3 + m.intercept
      val expected = BigDecimal(lg)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      scored(r.getLong(0))._1 shouldBe expected
    }
  }

  test("isotonicBlocks: hand-computed PAV pooling; monotone; mass-conserving") {
    // scores 1..4 with rates 0, 1, 0, 1 (violation at 2→3): PAV pools
    // {2,3} into one block of rate 1/2; the result 0, 1/2, 1 is
    // non-decreasing and no further pooling fires.
    val df = Seq(
      (1.0, 0), (2.0, 1), (3.0, 0), (4.0, 1),
    ).flatMap { case (s, y) => Seq((s, y)) }.toDF("s", "y")
    val blocks = QualityModel.isotonicBlocks(df, "s", col("y"))
    blocks.map(b => (b.lo, b.hi, b.n, b.np)) shouldBe Seq(
      (1.0, 1.0, 1L, 0L), (2.0, 3.0, 2L, 1L), (4.0, 4.0, 1L, 1L))
    // a strictly decreasing sequence pools to ONE block of the global rate
    val dec = Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)).toDF("s", "y")
    QualityModel.isotonicBlocks(dec, "s", col("y"))
      .map(b => (b.lo, b.hi, b.n, b.np)) shouldBe Seq((1.0, 4.0, 4L, 2L))
    // frequency-weighted pooling: rate comparisons are exact long
    // cross-multiplications, so 2/3 vs 1/2 pools (2·2 > 1·3)…
    val w = (Seq.fill(2)((1.0, 1)) ++ Seq.fill(1)((1.0, 0)) ++
      Seq.fill(1)((2.0, 1)) ++ Seq.fill(1)((2.0, 0))).toDF("s", "y")
    QualityModel.isotonicBlocks(w, "s", col("y"))
      .map(b => (b.lo, b.hi, b.n, b.np)) shouldBe Seq((1.0, 2.0, 5L, 3L))
    // …while EQUAL rates do NOT pool (strict-violation rule: the
    // stepwise fit is already isotonic)
    val eq = (Seq.fill(3)((1.0, 1)) ++ Seq.fill(3)((1.0, 0)) ++
      Seq.fill(2)((2.0, 1)) ++ Seq.fill(2)((2.0, 0))).toDF("s", "y")
    QualityModel.isotonicBlocks(eq, "s", col("y"))
      .map(b => (b.lo, b.hi, b.n, b.np)) shouldBe Seq(
      (1.0, 1.0, 6L, 3L), (2.0, 2.0, 4L, 2L))
    // corpus-scale property check: monotone rates, Σn and Σnp conserved
    val docs = (0L until 400L).map(i =>
      (i, (i % 37).toDouble, if ((i * 7) % 13 < (i % 37) / 4 + 3) 1 else 0))
      .toDF("doc_id", "s", "y")
    val bs = QualityModel.isotonicBlocks(docs, "s", col("y"))
    bs.map(_.n).sum shouldBe 400L
    bs.map(_.np).sum shouldBe docs.agg(sum("y")).head().getLong(0)
    bs.sliding(2).foreach {
      case Seq(a, b) =>
        withClue(s"monotone: $a then $b: ") {
          (a.np * b.n <= b.np * a.n) shouldBe true
        }
      case _ =>
    }
  }

  test("calibratedReliability: perfect calibration gives zero Brier-excess; degenerate block exact") {
    // one source; two blocks, rates 0 and 1 (perfectly separable):
    // p ∈ {0, 1} equals y everywhere → Brier 0, ECE 0
    val sep = (Seq.fill(5)((0L, "a", 1.0, 0)) ++ Seq.fill(5)((0L, "a", 2.0, 1)))
      .zipWithIndex.map { case ((_, src, s, y), i) => (i.toLong, src, s, y) }
      .toDF("doc_id", "src", "s", "y")
    val bs = QualityModel.isotonicBlocks(sep, "s", col("y"))
    val rep = QualityModel.calibratedReliability(sep, "src", "s",
      col("y"), bs).collect()
    rep.length shouldBe 1
    rep(0).getLong(1) shouldBe 10L
    rep(0).getDouble(2) shouldBe 0.0
    rep(0).getDouble(3) shouldBe 0.0
    // alternating rates pool into two half-half blocks (equal-rate
    // neighbors stay separate): per-doc Brier term is exactly 0.25,
    // and a source holding only positives sees ECE |0.5-1| in each of
    // its two cells
    val mix = Seq(
      (0L, "pos", 1.0, 1), (1L, "pos", 2.0, 1),
      (2L, "neg", 1.5, 0), (3L, "neg", 2.5, 0),
    ).toDF("doc_id", "src", "s", "y")
    val bm = QualityModel.isotonicBlocks(mix, "s", col("y"))
    bm.map(b => (b.n, b.np)) shouldBe Seq((2L, 1L), (2L, 1L))
    val rm = QualityModel.calibratedReliability(mix, "src", "s",
      col("y"), bm).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    rm("pos") shouldBe ((0.25, 0.5))
    rm("neg") shouldBe ((0.25, 0.5))
  }
}
