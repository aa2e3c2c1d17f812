package graft.ext

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weak-label LOGISTIC quality classifier — the fasttext-style learned
  * quality gate of a production curation pipeline (CCNet/GPT-3 lineage:
  * train a cheap linear classifier on weak labels, gate the corpus on
  * its score), as the classification sibling of the OLS fit (q153) and
  * the calibrated LM gate (q139).
  *
  * The classic distributed-ML split (the q172 PCA discipline): the FIT
  * is data-parallel MLlib over deterministic integer features; the
  * learned (weights, intercept) — a kilobyte — then scores the corpus as
  * ONE broadcast-literal codegen expression, never a model object per
  * row. Parity: scoring is a FIXED left-associated dot of recorded
  * doubles against exact integer features — both engines execute the
  * identical IEEE sequence, so the logit is bit-equal and `round6z` /
  * the admit comparison introduce no drift. The certificate oracle
  * records the fitted parameters and re-scores independently.
  */
object QualityModel {

  case class LrModel(weights: Array[Double], intercept: Double)

  /** Deterministic integer features per document: token count, distinct
    * token count, character count. Integer-exact on both engines.
    */
  def features(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"),
      size(array_distinct(Dedup.tokens(col(textCol)))).cast("long")
        .as("n_distinct"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Fit the gate on weak labels (`labelCol` ∈ {0, 1}). Returns the
    * coefficient vector in feature order (n_tokens, n_distinct,
    * n_chars) plus the intercept.
    */
  def fit(df: DataFrame, textCol: String,
      label: org.apache.spark.sql.Column, maxIter: Int = 50,
      regParam: Double = 0.01): LrModel = {
    val data = df.select(
      array_to_vector(array(
        size(Dedup.tokens(col(textCol))).cast("double"),
        size(array_distinct(Dedup.tokens(col(textCol)))).cast("double"),
        length(col(textCol)).cast("double"))).as("features"),
      label.cast("double").as("label"))
    val m = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).fit(data)
    LrModel(m.coefficients.toArray, m.intercept)
  }

  /** Score every document with a FITTED model: logit = w·x + b in fixed
    * left-to-right association over broadcast literals, admit = logit
    * strictly positive (decided on the UNROUNDED logit). Output
    * (idCol, logit, admit).
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: LrModel): DataFrame = {
    val f = features(df, idCol, textCol)
    val Array(w1, w2, w3) = model.weights
    val lg = col("n_tokens").cast("double") * w1 +
      col("n_distinct").cast("double") * w2 +
      col("n_chars").cast("double") * w3 + model.intercept
    f.select(col(idCol),
      graft.syntax.round6z(lg).as("logit"),
      when(lg > 0d, 1).otherwise(0).as("admit"))
  }

  /** One isotonic-regression block: raw scores in [lo, hi] calibrate to
    * the pooled positive rate np/n.
    */
  case class CalBlock(lo: Double, hi: Double, n: Long, np: Long)

  /** ISOTONIC CALIBRATION of a scored gate by pool-adjacent-violators
    * (PAV; Zadrozny & Elkan KDD'02 formulation) — raw gate scores map
    * to empirical P(label | score), monotone non-decreasing, the step
    * the logistic gate (q195) needs before its score can be read as a
    * probability (admission thresholds in probability space, mixture
    * weighting, selective labeling).
    *
    * The distributed/driver split (the MMR/PCA certificate-collect
    * discipline): the corpus contributes ONE aggregate — per DISTINCT
    * score, (count, positives) — and PAV runs on the driver over that
    * bounded table (distinct scores here are distinct integer-feature
    * dots: the ROC-AUC per-distinct-value bound, thousands not
    * corpus-cardinality; `require`-guarded). All pooling decisions are
    * EXACT: rate comparisons cross-multiply longs (np₁·n₂ > np₂·n₁), so
    * no float ever orders a merge. Returns blocks ascending in score;
    * pooled rates are non-decreasing by construction.
    */
  def isotonicBlocks(scored: DataFrame, scoreCol: String,
      label: org.apache.spark.sql.Column,
      maxDistinct: Int = 1000000): Seq[CalBlock] = {
    val stats = scored
      .groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("n"),
        sum(label.cast("long")).as("np"))
      .orderBy("s")
      .collect()
    require(stats.length <= maxDistinct,
      s"isotonicBlocks: ${stats.length} distinct scores exceed " +
        s"$maxDistinct — quantize the score first (driver-side PAV)")
    val stack = scala.collection.mutable.ArrayBuffer.empty[CalBlock]
    stats.foreach { r =>
      var b = CalBlock(r.getDouble(0), r.getDouble(0), r.getLong(1),
        r.getLong(2))
      // pool while the previous block's rate EXCEEDS the new one's
      // (exact long cross-multiplication — never a float compare)
      while (stack.nonEmpty &&
          stack.last.np * b.n > b.np * stack.last.n) {
        val p = stack.remove(stack.length - 1)
        b = CalBlock(p.lo, b.hi, p.n + b.n, p.np + b.np)
      }
      stack += b
    }
    stack.toSeq
  }

  /** Per-source RELIABILITY REPORT of a calibrated gate: n_docs, Brier
    * score, and expected calibration error, with the PAV blocks as the
    * bins. Cross-engine-exact float discipline (the q104 2^-40 rule):
    * every per-doc Brier term and per-bin ECE term is computed by the
    * identical IEEE op sequence from exact integer counts, truncated to
    * a long at 2^40, and SUMMED AS LONGS — so the aggregate is exact
    * integer math in any order/engine; one division and round at the
    * end. (Per-doc term longs bound the corpus at ~2^23 docs per
    * source here; beyond that, group the constant terms per (block,
    * label) cell first.)
    */
  def calibratedReliability(scored: DataFrame, sourceCol: String,
      scoreCol: String, label: org.apache.spark.sql.Column,
      blocks: Seq[CalBlock]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val Scale = 1099511627776.0 // 2^40
    // Binning is TOTAL over scores (standard isotonic extrapolation):
    // block i owns [lo_i, lo_{i+1}) with the first lo at -inf and the
    // last hi at +inf, so calibrating a cohort other than the one that
    // produced the blocks — the normal production use of a calibrator —
    // never silently drops rows. Same-cohort assignment is unchanged:
    // an observed score s of block i has lo_i <= s <= hi_i < lo_{i+1}.
    val bdf = broadcast(blocks.zipWithIndex.map { case (b, i) =>
      val lo = if (i == 0) Double.NegativeInfinity else b.lo
      val hi = if (i == blocks.length - 1) Double.PositiveInfinity
        else blocks(i + 1).lo
      (i, lo, hi, b.n, b.np)
    }.toDF("bid", "lo", "hi", "bn", "bnp"))
    val rows = scored
      .select(col(sourceCol).as("src"), col(scoreCol).as("s"),
        label.cast("long").as("y"))
      .join(bdf, col("s") >= col("lo") &&
        (col("s") < col("hi") || col("hi") === Double.PositiveInfinity))
      .withColumn("p",
        col("bnp").cast("double") / col("bn").cast("double"))
    val brier = rows
      .withColumn("t",
        floor((col("p") - col("y").cast("double")) *
          (col("p") - col("y").cast("double")) * Scale).cast("long"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"), sum("t").as("ts"))
      .select(col("src"),
        col("n_docs"),
        graft.syntax.round6z(col("ts").cast("double") /
          col("n_docs").cast("double") / Scale).as("brier"))
    val ece = rows
      .groupBy(col("src"), col("bid"), col("p"))
      .agg(count(lit(1)).as("nbs"), sum("y").as("npbs"))
      .withColumn("nsrc",
        sum(col("nbs")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))))
      .withColumn("t",
        floor(abs(col("p") -
            col("npbs").cast("double") / col("nbs").cast("double")) *
          (col("nbs").cast("double") / col("nsrc").cast("double")) *
          Scale).cast("long"))
      .groupBy(col("src"))
      .agg(sum("t").as("ts"))
      .select(col("src"),
        graft.syntax.round6z(col("ts").cast("double") / Scale).as("ece"))
    brier.join(ece, "src")
      .select(col("src").as(sourceCol), col("n_docs"), col("brier"),
        col("ece"))
  }
}
