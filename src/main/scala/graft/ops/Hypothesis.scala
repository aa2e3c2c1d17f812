package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sample hypothesis tests — Welch's unequal-variance t-test (Welch,
  * Biometrika 1947) and the tie-corrected Mann-Whitney U / Wilcoxon
  * rank-sum test (Mann & Whitney 1947) — the A/B-readout primitives the
  * drift family (PSI/KS/W₁/chi-square) doesn't cover: PSI/KS ask "did
  * the distribution move?", these ask "is the LOCATION difference
  * between two named cohorts significant?".
  *
  * Cross-engine float discipline (the kappa rule, `ops/Agreement.scala`):
  * every aggregate is an EXACT integer (counts, integer value sums,
  * doubled rank sums, tie cubes), and doubles are formed only at the
  * end by an identical sequence of divisions/multiplications/sqrt on
  * both engines — bit parity by construction, one round6z at the
  * surface. That is why [[welchTTest]] takes an INTEGER-valued column:
  * an exact Σx/Σx² is what makes the variance portable (a double value
  * column should be scaled-and-truncated upstream — the 2^-40 rule — or
  * tested rank-wise with [[mannWhitneyU]], which never sums values at
  * all).
  *
  * Scale shape: one scan → per-group integer aggregates (map-side
  * combinable); Welch then pairs the GROUP table (|groups|², never
  * corpus²), MW's rank machinery is a per-group window over DISTINCT
  * values. Overflow bounds (documented, loud in scaladoc not runtime —
  * same posture as kappa's n² bound): Welch needs Σx² < 2^63 (~9e10
  * rows/group at x ≤ 10⁴); MW's doubled rank sum stays exact below
  * ~2e9 rows/group and the tie term needs max tie-group < ~2e6.
  */
object Hypothesis {

  /** Welch's t-test on an integer-valued column between ALL PAIRS of
    * groups (a < b): per group n/Σx/Σx² (exact longs), then
    * `t = (m_a − m_b) / sqrt(v_a/n_a + v_b/n_b)` and the
    * Welch-Satterthwaite degrees of freedom. Groups with n < 2 drop;
    * pairs with zero pooled standard error drop (t undefined — and NaN
    * formatting differs between engines).
    */
  def welchTTest(df: DataFrame, groupCol: String, value: Column)
      : DataFrame = {
    val x = value.cast("long")
    val g = df.select(col(groupCol).as("g"), x.as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .filter(col("n") >= 2)
    def mean(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
    def se2(s1: Column, s2: Column, n: Column) = {
      val m = mean(s1, n)
      val v = (s2.cast("double") - s1.cast("double") * m) /
        (n - 1).cast("double")
      v / n.cast("double")
    }
    val pairs = g.alias("a").join(g.alias("b"), col("a.g") < col("b.g"))
      .select(
        col("a.g").as("ga"), col("b.g").as("gb"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.s1").as("s1a"), col("a.s2").as("s2a"),
        col("b.s1").as("s1b"), col("b.s2").as("s2b"))
    val sa = se2(col("s1a"), col("s2a"), col("na"))
    val sb = se2(col("s1b"), col("s2b"), col("nb"))
    val pooled = sa + sb
    pairs
      .filter(pooled > 0.0)
      .select(
        col("ga").as(s"${groupCol}_a"), col("gb").as(s"${groupCol}_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        graft.syntax.round6z(mean(col("s1a"), col("na"))).as("mean_a"),
        graft.syntax.round6z(mean(col("s1b"), col("nb"))).as("mean_b"),
        graft.syntax.round6z(
          (mean(col("s1a"), col("na")) - mean(col("s1b"), col("nb"))) /
            sqrt(pooled)).as("t_stat"),
        graft.syntax.round6z(
          (pooled * pooled) /
            (sa * sa / (col("na") - 1).cast("double") +
              sb * sb / (col("nb") - 1).cast("double"))).as("df_w"))
  }

  /** DuckDB twin of [[welchTTest]] over `FROM $from` with an
    * integer-valued `$valueExpr` — replays the exact-integer aggregates
    * and the identical double-op sequence.
    */
  def welchTTestSql(from: String, groupExpr: String, groupName: String,
      valueExpr: String): String = {
    def mean(p: String) = s"(CAST(s1$p AS DOUBLE) / CAST(n$p AS DOUBLE))"
    def se2(p: String) =
      s"(((CAST(s2$p AS DOUBLE) - CAST(s1$p AS DOUBLE) * ${mean(p)}) / " +
        s"CAST(n$p - 1 AS DOUBLE)) / CAST(n$p AS DOUBLE))"
    val pooled = s"(${se2("a")} + ${se2("b")})"
    s"""WITH g AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(trunc($valueExpr) AS BIGINT)) AS BIGINT) AS s1,
              CAST(sum(CAST(trunc($valueExpr) AS BIGINT) * CAST(trunc($valueExpr) AS BIGINT))
                   AS BIGINT) AS s2
            FROM $from GROUP BY 1 HAVING count(*) >= 2),
          p AS (SELECT a.g AS ga, b.g AS gb, a.n AS na, b.n AS nb,
                   a.s1 AS s1a, a.s2 AS s2a, b.s1 AS s1b, b.s2 AS s2b
                FROM g a JOIN g b ON a.g < b.g)
       SELECT ga AS ${groupName}_a, gb AS ${groupName}_b,
              na AS n_a, nb AS n_b,
              round(${mean("a")}, 6) + 0.0 AS mean_a,
              round(${mean("b")}, 6) + 0.0 AS mean_b,
              round((${mean("a")} - ${mean("b")}) / sqrt($pooled), 6) + 0.0
                AS t_stat,
              round(($pooled * $pooled) /
                    (${se2("a")} * ${se2("a")} / CAST(na - 1 AS DOUBLE) +
                     ${se2("b")} * ${se2("b")} / CAST(nb - 1 AS DOUBLE)), 6)
                + 0.0 AS df_w
       FROM p WHERE $pooled > 0.0"""
  }

  /** Per-group moment-stats table (n, Σx, Σx² — exact longs) for an
    * integer-valued column: the FROZEN structure of the hypothesis
    * family. LINEAR — stats of A ∪ B are the element-wise SUMS of the
    * parts ([[mergeStatsTables]]), so shard/epoch partials roll up
    * exactly and a persisted corpus table absorbs a batch in O(groups);
    * [[welchFromStats]] then tests any two tables against each other
    * without touching rows. O(groups) rows forever.
    */
  def statsTable(df: DataFrame, groupCol: String, value: Column)
      : DataFrame = {
    val x = value.cast("long")
    df.select(col(groupCol).as("g"), x.as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"))
  }

  /** Merge two [[statsTable]]s: counts and sums ADD — exact, any tree
    * shape (the linear merge law; same class as
    * [[LinearSketches.cmsMerge]]).
    */
  def mergeStatsTables(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("g"), col("n"), col("s1"), col("s2"))
      .unionByName(b.select(col("g"), col("n"), col("s1"), col("s2")))
      .groupBy("g")
      .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"))

  /** Welch's t-test of cohort A vs cohort B PER GROUP, from two
    * [[statsTable]]s (same group space) — the incremental-family probe:
    * a frozen corpus table vs an arriving batch's own table, no corpus
    * rows re-read. Same math and drop rules as [[welchTTest]] (which
    * pairs GROUPS of one table; this pairs two TABLES per group).
    */
  def welchFromStats(a: DataFrame, b: DataFrame, groupCol: String)
      : DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select(col("g"), col("n").as(s"n$p"), col("s1").as(s"s1$p"),
        col("s2").as(s"s2$p")).filter(col(s"n$p") >= 2)
    val pairs = side(a, "a").join(side(b, "b"), "g")
    def mean(p: String) = col(s"s1$p").cast("double") /
      col(s"n$p").cast("double")
    def se2(p: String) = {
      val v = (col(s"s2$p").cast("double") -
        col(s"s1$p").cast("double") * mean(p)) /
        (col(s"n$p") - 1).cast("double")
      v / col(s"n$p").cast("double")
    }
    val pooled = se2("a") + se2("b")
    pairs
      .filter(pooled > 0.0)
      .select(col("g").as(groupCol),
        col("na").as("n_a"), col("nb").as("n_b"),
        graft.syntax.round6z(mean("a")).as("mean_a"),
        graft.syntax.round6z(mean("b")).as("mean_b"),
        graft.syntax.round6z((mean("a") - mean("b")) / sqrt(pooled))
          .as("t_stat"),
        graft.syntax.round6z(
          (pooled * pooled) /
            (se2("a") * se2("a") / (col("na") - 1).cast("double") +
              se2("b") * se2("b") / (col("nb") - 1).cast("double")))
          .as("df_w"))
  }

  /** DuckDB twin of [[statsTable]]×2 + [[welchFromStats]] composed over
    * `FROM $from`, cohort B selected by `$isBExpr` — rebuilding both
    * stats from the full table, so running it against MERGED Spark
    * tables certifies the linear stats merge law and the probe at once.
    */
  def welchSplitSql(from: String, groupExpr: String, groupName: String,
      valueExpr: String, isBExpr: String): String = {
    def mean(p: String) = s"(CAST(s1$p AS DOUBLE) / CAST(n$p AS DOUBLE))"
    def se2(p: String) =
      s"(((CAST(s2$p AS DOUBLE) - CAST(s1$p AS DOUBLE) * ${mean(p)}) / " +
        s"CAST(n$p - 1 AS DOUBLE)) / CAST(n$p AS DOUBLE))"
    val pooled = s"(${se2("a")} + ${se2("b")})"
    def statsCte(name: String, pred: String) =
      s"""$name AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(trunc($valueExpr) AS BIGINT)) AS BIGINT) AS s1,
            CAST(sum(CAST(trunc($valueExpr) AS BIGINT) * CAST(trunc($valueExpr) AS BIGINT))
                 AS BIGINT) AS s2
          FROM $from WHERE $pred GROUP BY 1 HAVING count(*) >= 2)"""
    s"""WITH ${statsCte("sa", s"NOT ($isBExpr)")},
          ${statsCte("sb", s"($isBExpr)")},
          p AS (SELECT sa.g, sa.n AS na, sa.s1 AS s1a, sa.s2 AS s2a,
                   sb.n AS nb, sb.s1 AS s1b, sb.s2 AS s2b
                FROM sa JOIN sb ON sb.g = sa.g)
       SELECT g AS $groupName, na AS n_a, nb AS n_b,
              round(${mean("a")}, 6) + 0.0 AS mean_a,
              round(${mean("b")}, 6) + 0.0 AS mean_b,
              round((${mean("a")} - ${mean("b")}) / sqrt($pooled), 6) + 0.0
                AS t_stat,
              round(($pooled * $pooled) /
                    (${se2("a")} * ${se2("a")} / CAST(na - 1 AS DOUBLE) +
                     ${se2("b")} * ${se2("b")} / CAST(nb - 1 AS DOUBLE)), 6)
                + 0.0 AS df_w
       FROM p WHERE $pooled > 0.0"""
  }

  /** Two-proportion z-test between cohorts A (`isA`) and B, per group —
    * the conversion-rate A/B readout: `z = (p̂_a − p̂_b) /
    * sqrt(p̂(1−p̂)(1/n_a + 1/n_b))` with the pooled p̂. Counts are the
    * only aggregates (exact longs); the statistic is one identical
    * double sequence. Groups with an empty arm or a degenerate pooled
    * rate (0 or 1 — zero standard error) drop on both sides.
    */
  def twoProportionZ(df: DataFrame, groupCol: String, isA: Column,
      success: Column): DataFrame = {
    val g = df.select(col(groupCol).as("g"), isA.cast("boolean").as("ia"),
        success.cast("boolean").as("s"))
      .groupBy("g")
      .agg(
        sum(when(col("ia"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("ia") && col("s"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("ia"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("ia") && col("s"), 1L).otherwise(0L)).as("x_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val p1 = col("x_a").cast("double") / col("n_a").cast("double")
    val p2 = col("x_b").cast("double") / col("n_b").cast("double")
    val pool = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    g.filter(se > 0.0)
      .select(col("g").as(groupCol), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"),
        graft.syntax.round6z(p1).as("p_a"),
        graft.syntax.round6z(p2).as("p_b"),
        graft.syntax.round6z((p1 - p2) / se).as("z"))
  }

  /** DuckDB twin of [[twoProportionZ]] over `FROM $from`. */
  def twoProportionZSql(from: String, groupExpr: String, groupName: String,
      isAExpr: String, successExpr: String): String = {
    val p1 = "(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
    val p2 = "(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    val pool = "(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    val se = s"sqrt($pool * (1.0 - $pool) * " +
      "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    s"""WITH g AS (SELECT $groupExpr AS g,
              CAST(sum(CASE WHEN $isAExpr THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              CAST(sum(CASE WHEN ($isAExpr) AND ($successExpr)
                            THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
              CAST(sum(CASE WHEN NOT ($isAExpr) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN NOT ($isAExpr) AND ($successExpr)
                            THEN 1 ELSE 0 END) AS BIGINT) AS x_b
            FROM $from GROUP BY 1
            HAVING sum(CASE WHEN $isAExpr THEN 1 ELSE 0 END) > 0
               AND sum(CASE WHEN NOT ($isAExpr) THEN 1 ELSE 0 END) > 0)
       SELECT g AS $groupName, n_a, x_a, n_b, x_b,
              round($p1, 6) + 0.0 AS p_a,
              round($p2, 6) + 0.0 AS p_b,
              round(($p1 - $p2) / $se, 6) + 0.0 AS z
       FROM g WHERE $se > 0.0"""
  }

  /** Shared rank aggregate of the rank family ([[mannWhitneyU]],
    * [[rocAuc]]): per group the cohort sizes, the DOUBLED tie-averaged
    * rank sum of cohort A, and the tie term — all exact integers (ranks
    * never materialize per row: per-DISTINCT-value cohort counts + the
    * prior cumulative give the tied-average rank, and the ×2 cancels
    * the halves).
    */
  private def rankAgg(df: DataFrame, groupCol: String, isA: Column,
      value: Column): DataFrame = {
    val perV = df.select(col(groupCol).as("g"), isA.cast("boolean").as("ia"),
        value.cast("double").as("v"))
      .groupBy("g", "v")
      .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("na_v"),
        sum(when(!col("ia"), 1L).otherwise(0L)).as("nb_v"))
      .withColumn("t_v", col("na_v") + col("nb_v"))
    val wPrev = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    perV
      .withColumn("prev", coalesce(sum("t_v").over(wPrev), lit(0L)))
      .groupBy("g")
      .agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b"),
        sum(col("na_v") * (lit(2L) * col("prev") + col("t_v") + 1L))
          .as("r2_a"),
        sum(col("t_v") * col("t_v") * col("t_v") - col("t_v")).as("ties"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
  }

  /** Tie-corrected Mann-Whitney U between cohorts A (`isA`) and B, per
    * group: ranks never materialize per row — per DISTINCT value the
    * cohort counts and the prior cumulative give the tied-average rank,
    * so the DOUBLED rank sum `2R_A = Σ na_v·(2·prev + t_v + 1)` is an
    * exact integer (halves from tie-averaging cancel), as are
    * `2U_A = 2R_A − n_a(n_a+1)` and the tie term `Σ(t³ − t)`. The
    * normal-approximation z (no continuity correction — both engines
    * would apply it identically anyway, it's omitted for simplicity)
    * forms from those integers by one identical double sequence:
    * `σ² = (n_a·n_b/12)·(N+1 − ties/(N(N−1)))`,
    * `z = (2U_A − n_a·n_b) / (2σ)`. Groups where either cohort is empty
    * or σ² = 0 (all values tied) drop on both sides.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, isA: Column,
      value: Column): DataFrame = {
    val agg = rankAgg(df, groupCol, isA, value)
    val nn = col("n_a") + col("n_b")
    val u2 = col("r2_a") - col("n_a") * (col("n_a") + 1L)
    val sigma2 = (col("n_a") * col("n_b")).cast("double") / 12.0 *
      ((nn + 1L).cast("double") -
        col("ties").cast("double") / (nn * (nn - 1L)).cast("double"))
    agg
      .filter(sigma2 > 0.0)
      .select(col("g").as(groupCol), col("n_a"), col("n_b"),
        u2.as("u2_a"), col("ties"),
        graft.syntax.round6z(
          (u2 - col("n_a") * col("n_b")).cast("double") /
            (lit(2.0) * sqrt(sigma2))).as("z"))
  }

  /** ROC-AUC of `score` predicting boolean `label`, per group — EXACT
    * (ties count ½, the trapezoidal convention) via the rank identity
    * `AUC = U₊ / (n₊·n₋)` (Hanley & McNeil 1982): the probability a
    * random positive outscores a random negative. Rides [[rankAgg]]'s
    * exact integers — the doubled U divided once at the surface, so the
    * full-corpus AUC needs one pass + one bounded window, never the
    * n₊·n₋ pair materialization. The gate-tuning eval primitive for the
    * quality/langid/PII classifier family.
    */
  def rocAuc(df: DataFrame, groupCol: String, label: Column,
      score: Column): DataFrame = {
    val agg = rankAgg(df, groupCol, label, score)
    val u2 = col("r2_a") - col("n_a") * (col("n_a") + 1L)
    agg.select(col("g").as(groupCol),
      col("n_a").as("n_pos"), col("n_b").as("n_neg"),
      graft.syntax.round6z(u2.cast("double") /
        (lit(2L) * col("n_a") * col("n_b")).cast("double")).as("auc"))
  }

  /** DuckDB twin of [[rocAuc]] over `FROM $from`. */
  def rocAucSql(from: String, groupExpr: String, groupName: String,
      labelExpr: String, scoreExpr: String): String =
    s"""WITH pv AS (SELECT $groupExpr AS g, CAST($scoreExpr AS DOUBLE) AS v,
              CAST(sum(CASE WHEN $labelExpr THEN 1 ELSE 0 END) AS BIGINT)
                AS na_v,
              CAST(sum(CASE WHEN $labelExpr THEN 0 ELSE 1 END) AS BIGINT)
                AS nb_v
            FROM $from GROUP BY 1, 2),
          pr AS (SELECT g, na_v, nb_v, na_v + nb_v AS t_v,
                   coalesce(sum(na_v + nb_v) OVER (PARTITION BY g
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prev
                 FROM pv),
          ag AS (SELECT g, CAST(sum(na_v) AS BIGINT) AS n_a,
                   CAST(sum(nb_v) AS BIGINT) AS n_b,
                   CAST(sum(na_v * (2 * prev + t_v + 1)) AS BIGINT) AS r2_a
                 FROM pr GROUP BY 1
                 HAVING sum(na_v) > 0 AND sum(nb_v) > 0)
       SELECT g AS $groupName, n_a AS n_pos, n_b AS n_neg,
              round(CAST(r2_a - n_a * (n_a + 1) AS DOUBLE) /
                    CAST(2 * n_a * n_b AS DOUBLE), 6) + 0.0 AS auc
       FROM ag"""

  /** Confusion counts and precision/recall/F1 at each of a LADDER of
    * score thresholds, per group — the table a gate-tuning pass reads
    * next to [[rocAuc]]'s scalar: predict positive at `score ≥ t`.
    * One scan × |thresholds| conditional integer sums (broadcast
    * literal ladder, map-side combinable); the ratios are single
    * divisions of exact longs. Degenerate cells yield NULL on both
    * engines via the 0-denominator guard.
    */
  def confusionAtThresholds(df: DataFrame, groupCol: String, label: Column,
      score: Column, thresholds: Seq[Double]): DataFrame =
    confusionRatios(
      confusionCounts(df, groupCol, label, score, thresholds), groupCol)

  /** The integer half of [[confusionAtThresholds]]: per (group,
    * threshold) the exact tp/fp/fn/tn counts. LINEAR — counts of A ∪ B
    * are the element-wise SUMS ([[mergeConfusion]]), the
    * [[statsTable]]/[[LinearSketches.cmsSketch]] mergeability class —
    * which is what lets ST30 keep the gate-tuning table live per batch.
    * O(groups · thresholds) rows forever.
    */
  def confusionCounts(df: DataFrame, groupCol: String, label: Column,
      score: Column, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t =>
      java.lang.Double.isFinite(t)),
      s"confusionCounts: need finite thresholds, got $thresholds")
    val spark = df.sparkSession
    import spark.implicits._
    val t = broadcast(thresholds.toDF("thr"))
    // A NULL label or score satisfies none of the four `when` arms and
    // would silently vanish from tp+fp+fn+tn (invisible forever in
    // ST30's additive state) — count them in the same pass and fail
    // loudly instead. The guard is a filter on an assert_true column so
    // the optimizer cannot prune it.
    df.select(col(groupCol).as("g"),
        label.cast("boolean").as("y"), score.cast("double").as("s"))
      .crossJoin(t)
      .groupBy(col("g").as(groupCol), col("thr"))
      .agg(
        sum(when(col("y") && col("s") >= col("thr"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(!col("y") && col("s") >= col("thr"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") && col("s") < col("thr"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("y") && col("s") < col("thr"), 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("y").isNull || col("s").isNull, 1L).otherwise(0L))
          .as("_n_null"))
      .where(assert_true(col("_n_null") === 0L,
        lit("confusionCounts: rows with NULL label or score present " +
          "(filter or impute them explicitly upstream)")).isNull)
      .drop("_n_null")
  }

  /** Merge two [[confusionCounts]] tables (same threshold ladder):
    * element-wise addition — exact through any tree shape.
    */
  def mergeConfusion(a: DataFrame, b: DataFrame, groupCol: String)
      : DataFrame = {
    val cols = Seq(col(groupCol), col("thr"), col("tp"), col("fp"),
      col("fn"), col("tn"))
    a.select(cols: _*).unionByName(b.select(cols: _*))
      .groupBy(col(groupCol), col("thr"))
      .agg(sum("tp").as("tp"), sum("fp").as("fp"),
        sum("fn").as("fn"), sum("tn").as("tn"))
  }

  /** Precision/recall/F1 surface over a [[confusionCounts]] table —
    * single divisions of exact longs, NULL on degenerate cells.
    */
  def confusionRatios(counts: DataFrame, groupCol: String): DataFrame = {
    def ratio(num: Column, den: Column) =
      when(den > 0, graft.syntax.round6z(num.cast("double") /
        den.cast("double")))
    counts.select(col(groupCol), col("thr"), col("tp"), col("fp"),
      col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** DuckDB twin of [[confusionAtThresholds]] over `FROM $from`. */
  def confusionAtThresholdsSql(from: String, groupExpr: String,
      groupName: String, labelExpr: String, scoreExpr: String,
      thresholds: Seq[Double]): String = {
    val ladder = thresholds.map(t => s"(CAST($t AS DOUBLE))")
      .mkString(", ")
    def ratio(num: String, den: String) =
      s"CASE WHEN $den > 0 THEN round(CAST($num AS DOUBLE) / " +
        s"CAST($den AS DOUBLE), 6) + 0.0 END"
    s"""WITH b AS (SELECT $groupExpr AS g, ($labelExpr) AS y,
              CAST($scoreExpr AS DOUBLE) AS s FROM $from),
          c AS (SELECT g, t.thr,
              CAST(sum(CASE WHEN y AND s >= t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
              CAST(sum(CASE WHEN NOT y AND s >= t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
              CAST(sum(CASE WHEN y AND s < t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
              CAST(sum(CASE WHEN NOT y AND s < t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
            FROM b, (VALUES $ladder) t(thr) GROUP BY 1, 2)
       SELECT g AS $groupName, thr, tp, fp, fn, tn,
              ${ratio("tp", "tp + fp")} AS precision,
              ${ratio("tp", "tp + fn")} AS recall,
              ${ratio("2 * tp", "2 * tp + fp + fn")} AS f1
       FROM c"""
  }

  /** DuckDB twin of [[mannWhitneyU]] over `FROM $from`. */
  def mannWhitneyUSql(from: String, groupExpr: String, groupName: String,
      isAExpr: String, valueExpr: String): String = {
    val sigma2 = "(CAST(n_a * n_b AS DOUBLE) / 12.0 * " +
      "(CAST(n_a + n_b + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / " +
      "CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))"
    s"""WITH pv AS (SELECT $groupExpr AS g, CAST($valueExpr AS DOUBLE) AS v,
              CAST(sum(CASE WHEN $isAExpr THEN 1 ELSE 0 END) AS BIGINT)
                AS na_v,
              CAST(sum(CASE WHEN $isAExpr THEN 0 ELSE 1 END) AS BIGINT)
                AS nb_v
            FROM $from GROUP BY 1, 2),
          pr AS (SELECT g, v, na_v, nb_v, na_v + nb_v AS t_v,
                   coalesce(sum(na_v + nb_v) OVER (PARTITION BY g
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS prev
                 FROM pv),
          ag AS (SELECT g, CAST(sum(na_v) AS BIGINT) AS n_a,
                   CAST(sum(nb_v) AS BIGINT) AS n_b,
                   CAST(sum(na_v * (2 * prev + t_v + 1)) AS BIGINT) AS r2_a,
                   CAST(sum(t_v * t_v * t_v - t_v) AS BIGINT) AS ties
                 FROM pr GROUP BY 1
                 HAVING sum(na_v) > 0 AND sum(nb_v) > 0)
       SELECT g AS $groupName, n_a, n_b,
              r2_a - n_a * (n_a + 1) AS u2_a, ties,
              round(CAST(r2_a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) /
                    (2.0 * sqrt($sigma2)), 6) + 0.0 AS z
       FROM ag WHERE $sigma2 > 0.0"""
  }
}
