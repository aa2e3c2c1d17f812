package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two cohorts of one table —
  * per-bucket Population Stability Index (PSI) terms, the standard check
  * that a new ingest / new snapshot still "looks like" the corpus before
  * it is allowed into a training mix (reference analog: the snapshot
  * freshness checks around `update_ways_metadata.py`'s re-enrichment).
  *
  * Scale design: the bucket is an integer CASE ladder over literal
  * thresholds (pure codegen'd map work — no global sort, no quantile
  * state), so the only shuffle is one tiny groupBy on the bucket id; the
  * cohort totals broadcast back. PSI terms are emitted PER BUCKET with the
  * float math done once per bucket row — no cross-row float accumulation,
  * so there is no aggregation-order drift to reconcile across engines
  * (sum the rounded terms for the scalar PSI).
  */
object Drift {

  /** Integer ladder bucket: number of `thresholds` ≤ value (monotone, so
    * bucket b covers [t_{b-1}, t_b)). Integer comparisons only — no float
    * boundaries to disagree on.
    */
  def bucketOf(c: Column, thresholds: Seq[Long]): Column =
    thresholds.map(t => when(c >= t, 1L).otherwise(0L))
      .reduce(_ + _)

  /** DuckDB twin of [[bucketOf]] — the same ladder, textually. */
  def bucketSql(e: String, thresholds: Seq[Long]): String =
    thresholds.map(t => s"(CASE WHEN $e >= $t THEN 1 ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Per-bucket PSI terms between cohort A (`isA`) and cohort B (the
    * rest): `(p_a - p_b) · ln(p_a / p_b)` where p is the bucket's share of
    * its cohort. Buckets empty on either side are omitted (their
    * unsmoothed term is undefined); emit counts so callers can see them
    * coming. Output: bucket, n_a, n_b, psi_term (rounded 6).
    */
  def psiTerms(df: DataFrame, isA: Column, bucket: Column): DataFrame = {
    val counts = df
      .select(bucket.as("bucket"), isA.as("__a"))
      .groupBy("bucket")
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum("n_a").as("__t_a"), sum("n_b").as("__t_b"))
    val pa = col("n_a").cast("double") / col("__t_a")
    val pb = col("n_b").cast("double") / col("__t_b")
    counts.crossJoin(broadcast(totals))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("bucket"), col("n_a"), col("n_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi_term"))
  }

  /** PSI of an arriving batch against a FROZEN reference bucket table
    * (`(bucket, n_ref)` — one [[psiTerms]]-shaped count pass over the
    * corpus, paid once and persisted): the incremental form of the
    * drift check, O(batch) + |buckets| per probe. Same contract as
    * [[psiTerms]]: buckets empty on either side are omitted (their
    * unsmoothed term is undefined). Output (bucket, n_ref, n_batch,
    * psi_term); callers sum `psi_term` for the scalar alarm.
    */
  def psiAgainstReference(ref: DataFrame, batch: DataFrame,
      bucket: Column): DataFrame = {
    val bc = batch.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_batch"))
    val totals = bc.agg(sum("n_batch").as("__tb"))
      .crossJoin(ref.agg(sum("n_ref").as("__tr")))
    val pa = col("n_ref").cast("double") / col("__tr")
    val pb = col("n_batch").cast("double") / col("__tb")
    ref.join(bc, Seq("bucket"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_ref"), col("n_batch"),
        round((pa - pb) * log(pa / pb), 6).as("psi_term"))
  }

  /** The frozen side of the incremental/streaming drift check: one
    * count pass over the reference cohort → (group, bucket, n_ref),
    * persisted once (IndexStore/parquet), probed forever.
    */
  def referenceCounts(df: DataFrame, groupCol: String,
      bucket: Column): DataFrame =
    df.groupBy(col(groupCol), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_ref"))

  /** PER-GROUP PSI from two COUNT tables — the shared kernel of the
    * batch referenced probe and the ST34 live read: `ref` (group,
    * bucket, n_ref) vs `live` (group, bucket, n_live), shares within
    * each group. Same contract as [[psiTerms]]: buckets empty on either
    * side are omitted (their unsmoothed term is undefined) — the inner
    * join IS that rule, since count tables carry only positive rows.
    * The per-group totals are group-cardinality-bounded aggregates,
    * broadcast back. PSI terms are products of same-sign factors, so
    * every rounded output is ≥ +0.0 — no signed-zero hazard.
    */
  def psiOfCounts(ref: DataFrame, live: DataFrame,
      groupCol: String): DataFrame = {
    val rt = ref.groupBy(groupCol).agg(sum("n_ref").as("__tr"))
    val lt = live.groupBy(groupCol).agg(sum("n_live").as("__tl"))
    val pr = col("n_ref").cast("double") / col("__tr")
    val pl = col("n_live").cast("double") / col("__tl")
    ref.join(live, Seq(groupCol, "bucket"))
      .join(broadcast(rt), Seq(groupCol))
      .join(broadcast(lt), Seq(groupCol))
      .select(col(groupCol), col("bucket"), col("n_ref"), col("n_live"),
        round((pr - pl) * log(pr / pl), 6).as("psi_term"))
  }

  /** PEARSON CHI-SQUARE test of independence between two categorical
    * columns, with Cramér's V — the statistical complement of the PSI
    * drift terms: PSI watches one dimension move over time, chi-square
    * asks whether two dimensions are associated at all (is quality
    * independent of source? did language mix shift by crawl?).
    *
    * All counts are integer; expected counts and the per-cell
    * (o−e)²/e terms are doubles, so each term is ROUNDED at 9 and summed
    * as DECIMAL(38,12) — the q152 multi-term float discipline: the sum
    * is order-free exact, and both engines add identical decimals.
    * Shape: one (a, b) count aggregate, two marginal re-aggregates
    * broadcast back — cells are bounded by the category-domain product,
    * never data volume. Output (one row): n, n_rows, n_cols, dof, chi2,
    * cramers_v.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // `cells` feeds FOUR consumers in one plan (rowT, colT, tot, and the
    // join base) — without a cut the input groupBy recomputes 4×. The
    // checkpoint is category-domain-bounded rows, i.e. tiny.
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint()
    val rowT = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colT = cells.groupBy("__b").agg(sum("__o").as("__cb"))
    val tot = cells.agg(sum("__o").as("__n"),
      countDistinct(col("__a")).as("__nr"),
      countDistinct(col("__b")).as("__nc"))
    val e = col("__ra").cast("double") * col("__cb").cast("double") /
      col("__n").cast("double")
    val term = (col("__o").cast("double") - e) * (col("__o").cast("double") - e) / e
    cells
      .join(rowT, Seq("__a")).join(colT, Seq("__b")).crossJoin(broadcast(tot))
      .select(col("__n"), col("__nr"), col("__nc"),
        round(term, 9).cast("decimal(38,12)").as("__t"))
      .groupBy("__n", "__nr", "__nc")
      .agg(sum(col("__t")).as("__chi"))
      .select(col("__n").as("n"), col("__nr").as("n_rows"),
        col("__nc").as("n_cols"),
        ((col("__nr") - 1) * (col("__nc") - 1)).as("dof"),
        round(col("__chi").cast("double"), 6).as("chi2"),
        round(sqrt(col("__chi").cast("double") /
          (col("__n").cast("double") *
            least(col("__nr") - 1, col("__nc") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Shared ECDF machinery for [[ksTest]] and [[wasserstein1]]: per
    * distinct value, |F_A(v) − F_B(v)| plus the value's global rank
    * among distinct values — every cumulative count built with the
    * two-phase value-range-bucketed cumsum (phase-1 window over
    * ≤ nBuckets rows, phase-2 parallel within buckets). Returns the
    * checkpointed (__v, __rv, __d) relation and the cohort sizes.
    */
  private def ecdfDiff(df: DataFrame, valueCol: String, isA: Column,
      nBuckets: Int): (DataFrame, Long, Long) =
    ecdfDiffPreAgg(df
      .select(col(valueCol).cast("double").as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"))
      .groupBy("__v")
      .agg(sum(col("__a")).as("ca"), sum(lit(1L) - col("__a")).as("cb")),
      nBuckets)

  /** DuckDB twin of [[ecdfDiff]] and its two statistics: `cohort` is a
    * SELECT of (v, a) rows, `a` = 1 for cohort A and 0 for cohort B. The
    * ECDF gap per distinct value comes from one window cumsum (fine at
    * oracle scale), then either the KS finish (n_a, n_b, d_stat, at_value)
    * or, with `w1`, the W₁ finish (n_a, n_b, w1): interval terms round(9)
    * → DECIMAL(38,12) → an order-free sum.
    */
  def ecdfSql(cohort: String, w1: Boolean): String = {
    val finish =
      if (w1)
        """tm AS (SELECT CAST(round(a.dv * (b.v - a.v), 9)
                       AS DECIMAL(38,12)) AS tt
                   FROM dd a JOIN dd b ON b.rv = a.rv + 1)
         SELECT t.na AS n_a, t.nb AS n_b,
                round(CAST(coalesce(sum(tt), 0) AS DOUBLE), 6) + 0.0 AS w1
         FROM tm, t GROUP BY 1, 2"""
      else
        """m AS (SELECT max(dv) AS mx FROM dd)
         SELECT t.na AS n_a, t.nb AS n_b,
                round(m.mx, 6) + 0.0 AS d_stat,
                (SELECT min(v) FROM dd WHERE dv = m.mx) AS at_value
         FROM t, m"""
    s"""WITH v AS ($cohort),
              pv AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
                     CAST(sum(1 - a) AS BIGINT) AS cb
                   FROM v GROUP BY 1),
              t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                     CAST(sum(cb) AS BIGINT) AS nb FROM pv),
              c AS (SELECT v,
                     sum(ca) OVER (ORDER BY v) AS cuma,
                     sum(cb) OVER (ORDER BY v) AS cumb,
                     row_number() OVER (ORDER BY v) AS rv
                   FROM pv),
              dd AS MATERIALIZED (SELECT v, rv,
                     abs(CAST(cuma AS DOUBLE) / t.na -
                         CAST(cumb AS DOUBLE) / t.nb) AS dv
                   FROM c, t),
              $finish"""
  }

  /** [[ecdfDiff]] over an ALREADY per-value-aggregated `(\_\_v, ca, cb)`
    * relation — the seam the incremental probe enters through.
    */
  private def ecdfDiffPreAgg(perV0: DataFrame,
      nBuckets: Int): (DataFrame, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    val perV = perV0
      .localCheckpoint() // feeds the bounds agg AND both cumsum phases
    val b = perV.agg(min("__v"), max("__v"),
      sum("ca").cast("long"), sum("cb").cast("long")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val (na, nb) = (b.getLong(2), b.getLong(3))
    require(na > 0 && nb > 0, s"ecdf: both cohorts must be non-empty ($na, $nb)")
    val w = if (hi > lo) (hi - lo) / nBuckets else 1.0
    val bucketed = perV.withColumn("__b",
      least(lit(nBuckets - 1L),
        floor((col("__v") - lit(lo)) / lit(w)).cast("long")))
    // Phase 1: per-bucket totals → exclusive base offsets (≤ nBuckets rows)
    val bases = bucketed.groupBy("__b")
      .agg(sum("ca").as("__ta"), sum("cb").as("__tb"),
        count(lit(1)).as("__tr"))
      .withColumn("__basea", coalesce(sum(col("__ta")).over(
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__baseb", coalesce(sum(col("__tb")).over(
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__baser", coalesce(sum(col("__tr")).over(
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__b"), col("__basea"), col("__baseb"), col("__baser"))
    // Phase 2: within-bucket cumsum (parallel), value order inside buckets
    val wLoc = Window.partitionBy("__b").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = bucketed.join(broadcast(bases), "__b")
      .withColumn("__cuma", col("__basea") + sum(col("ca")).over(wLoc))
      .withColumn("__cumb", col("__baseb") + sum(col("cb")).over(wLoc))
      .withColumn("__rv", col("__baser") + count(lit(1)).over(wLoc))
      .select(col("__v"), col("__rv"),
        abs(col("__cuma").cast("double") / na -
          col("__cumb").cast("double") / nb).as("__d"))
      .localCheckpoint() // multi-use: max + argmax (KS), self-join (W1)
    (d, na, nb)
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV test: D = max over observed values of
    * |F_A(v) − F_B(v)| — the distribution-free "did this cohort's whole
    * SHAPE move" statistic that PSI's fixed buckets can miss (a shift
    * inside one wide bucket is invisible to PSI; KS sees every quantile).
    * Output one row: (n_a, n_b, d_stat, at_value) — the statistic plus
    * the value where the ECDFs diverge most (min such value: rank
    * argmaxes on doubles need a total-order tiebreak).
    *
    * Scale design: the ECDFs need a VALUE-ORDERED cumulative count — the
    * q140 two-phase cumsum, but bucketed by value RANGE (floor((v−lo)/w)
    * over nBuckets spans from one min/max pass) so bucket order IS value
    * order: phase 1's single-partition window runs over ≤ nBuckets rows,
    * never the data; phase 2 cumsums within buckets in parallel. Float
    * parity: the per-value d is |cumA/nA − cumB/nB| on exact integers —
    * identical IEEE ops on identical inputs give the identical double on
    * both engines, so max/argmax/round introduce no drift (no cross-row
    * float accumulation anywhere).
    */
  def ksTest(df: DataFrame, valueCol: String, isA: Column,
      nBuckets: Int = 256): DataFrame = {
    val (d, na, nb) = ecdfDiff(df, valueCol, isA, nBuckets)
    ksFinish(d, na, nb)
  }

  private def ksFinish(d: DataFrame, na: Long, nb: Long): DataFrame = {
    val mx = d.agg(max("__d")).head().getDouble(0)
    d.filter(col("__d") === mx)
      .agg(min("__v").as("at_value"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        graft.syntax.round6z(lit(mx)).as("d_stat"), col("at_value"))
  }

  /** Persistable corpus-side count table for incremental drift probes:
    * one `(v, cnt)` row per distinct value — the corpus pays its raw
    * aggregation once; probes never touch the raw rows again. At
    * continuous-valued 100 TB the distinct-value table can itself be
    * large — use [[quantizedEcdfTable]] (a fixed grid) to bound it; the
    * probe is exact for whatever value resolution the table carries.
    */
  def ecdfTable(df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("double").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** Snap a value to the LEFT EDGE of its `step`-wide grid cell:
    * `step · floor(v / step)` — both the corpus table and every probe
    * batch must pass through the SAME grid (same step), and then the
    * probe is EXACT at grid resolution: identical IEEE ops on identical
    * inputs land every value in the same cell on every engine/executor.
    * Left-edge (floor, not round) so a cell's representative is
    * independent of what else lands in it.
    */
  def quantize(c: Column, step: Double): Column = {
    require(step > 0 && java.lang.Double.isFinite(step),
      s"quantize: step must be a positive finite double, got $step")
    // Non-finite values PROPAGATE UNCHANGED: Spark's `floor` returns
    // LongType (NaN would silently land in cell 0; ±Inf overflows the
    // long under ANSI), while DuckDB's DOUBLE floor keeps NaN/Inf — the
    // guard makes both engines agree (NaN stays NaN, Inf stays Inf) and
    // keeps the wrong-cell path unreachable. Finite-domain contract:
    // cells are exact for |v/step| < 2^53 (the long→double conversion is
    // exact there); beyond that the grid itself has sub-ulp cells and a
    // caller should rescale.
    val v = c.cast("double")
    when(isnan(v) || abs(v) === Double.PositiveInfinity, v)
      .otherwise(floor(v / step) * step)
  }

  /** GRID-QUANTIZED corpus count table for incremental drift probes at
    * continuous-valued scale — the operator form of [[ecdfTable]]'s
    * "quantize upstream" caveat. At 100 TB a continuous value column has
    * ~as many distinct doubles as rows, so the raw distinct-value table
    * is itself corpus-sized; snapping to a fixed `step` grid bounds the
    * table at (value range / step) rows FOREVER, independent of corpus
    * growth. The probe contract (pinned by spec): [[incrementalKs]] /
    * [[incrementalWasserstein]] over this table with the batch passed
    * through [[quantize]] at the SAME step is bit-identical to the full
    * two-sample test over combined raw rows quantized at that step —
    * i.e. the only approximation is the grid itself, stated up front,
    * never a probe-side artifact.
    */
  def quantizedEcdfTable(df: DataFrame, valueCol: String,
      step: Double): DataFrame =
    df.select(quantize(col(valueCol), step).as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** [[incrementalKs]] against a [[quantizedEcdfTable]] — the batch is
    * snapped to the same grid before probing (the exactness contract
    * requires one shared step).
    */
  def incrementalKsQuantized(corpusCounts: DataFrame, batch: DataFrame,
      valueCol: String, step: Double, nBuckets: Int = 256): DataFrame =
    incrementalKs(corpusCounts,
      batch.select(quantize(col(valueCol), step).as("v")), "v", nBuckets)

  /** [[incrementalWasserstein]] against a [[quantizedEcdfTable]] — same
    * shared-grid contract; W₁ is then the drift magnitude measured at
    * grid resolution (cell-edge distances).
    */
  def incrementalWassersteinQuantized(corpusCounts: DataFrame,
      batch: DataFrame, valueCol: String, step: Double,
      nBuckets: Int = 256): DataFrame =
    incrementalWasserstein(corpusCounts,
      batch.select(quantize(col(valueCol), step).as("v")), "v", nBuckets)

  /** INCREMENTAL two-sample KS — the drift member of the incremental
    * ingest family: the arriving batch (cohort B) is tested against the
    * FROZEN corpus count table (cohort A, [[ecdfTable]]) without
    * re-reading corpus rows; per probe the work is one O(batch)
    * aggregate plus the two-phase cumsum over (|ecdf table| + |batch
    * distinct|) rows. The merged per-value counts feed the exact same
    * machinery as [[ksTest]], so D (and the argmax value) is
    * BIT-IDENTICAL to running ksTest over the combined raw rows — which
    * is precisely what the q201 twin re-derives.
    */
  def incrementalKs(corpusCounts: DataFrame, batch: DataFrame,
      valueCol: String, nBuckets: Int = 256): DataFrame = {
    val (d, na, nb) = ecdfDiffPreAgg(mergedCounts(corpusCounts, batch,
      valueCol), nBuckets)
    ksFinish(d, na, nb)
  }

  /** 1-D WASSERSTEIN (earth mover's) distance between the two cohorts'
    * empirical distributions: W₁ = ∫ |F_A − F_B| dv = Σ over consecutive
    * distinct values of |F_A(vᵢ) − F_B(vᵢ)| · (vᵢ₊₁ − vᵢ) — the
    * MAGNITUDE of distribution shift in the value's own units, where KS
    * reports only the worst single quantile gap (a small shift across
    * the whole range moves W₁ but barely moves D, and vice versa — the
    * standard embedding/feature-drift pair).
    *
    * The consecutive-value link joins rank → rank+1 on the shared ECDF
    * relation (an equi-join — no global lead window ever sees the
    * data). Cross-row float discipline: each interval term rounds at 9
    * → DECIMAL(38,12) → order-free sum (the q152 route; the term itself
    * is exact-double × exact-double). Output (n_a, n_b, w1).
    */
  def wasserstein1(df: DataFrame, valueCol: String, isA: Column,
      nBuckets: Int = 256): DataFrame = {
    val (d, na, nb) = ecdfDiff(df, valueCol, isA, nBuckets)
    w1Finish(d, na, nb)
  }

  private def w1Finish(d: DataFrame, na: Long, nb: Long): DataFrame =
    d.join(d.select(col("__rv").as("__rvn"), col("__v").as("__vn")),
        col("__rvn") === col("__rv") + 1)
      .select(round(col("__d") * (col("__vn") - col("__v")), 9)
        .cast("decimal(38,12)").as("__t"))
      .agg(sum(col("__t")).as("__w"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        graft.syntax.round6z(coalesce(col("__w"), lit(0)).cast("double"))
          .as("w1"))

  /** INCREMENTAL Wasserstein-1 against the same frozen [[ecdfTable]] as
    * [[incrementalKs]] — one corpus structure serves both drift probes;
    * W₁ is bit-identical to [[wasserstein1]] over the combined raw rows
    * (same merged counts, same machinery).
    */
  def incrementalWasserstein(corpusCounts: DataFrame, batch: DataFrame,
      valueCol: String, nBuckets: Int = 256): DataFrame = {
    val (d, na, nb) = ecdfDiffPreAgg(mergedCounts(corpusCounts, batch,
      valueCol), nBuckets)
    w1Finish(d, na, nb)
  }

  /** Merge two ECDF count tables (built on the SAME grid, or both raw):
    * counts ADD per value — the linear merge law for count tables, exact
    * by construction, so per-shard tables roll up through any tree shape
    * to the identical global table (what lets [[quantilesFromEcdf]] and
    * the incremental KS/W₁ probes run off shard-local builds without a
    * corpus re-scan).
    */
  def mergeEcdfTables(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("v"), col("cnt"))
      .unionByName(b.select(col("v"), col("cnt")))
      .groupBy("v").agg(sum("cnt").as("cnt"))

  /** Quantiles FROM the (quantized) ECDF count table — the mergeable-
    * quantile read the grid family was missing: because count tables ADD
    * (per-shard tables union + re-group — the [[incrementalKs]] merge),
    * any tree of shard-local tables yields the same global table, and
    * this probe then answers any quantile in O(|table|) without touching
    * corpus rows. Exact AT GRID RESOLUTION — the one approximation is
    * the grid, stated up front (raw [[ecdfTable]] input ⇒ exact
    * order statistics). Definition: the `p`-th percentile is the
    * smallest cell value whose cumulative count reaches
    * `max(1, ceil(p/100 · n))` — the standard left-continuous inverse
    * CDF. Percentiles ride as INTEGERS (p/100.0 is the only division,
    * identical on both engines; `ceil` of a double is integral, so the
    * long conversion is rounding-mode-proof). The cumulative window is
    * GLOBAL by construction — bounded by the grid cell count (the q205
    * rule), never corpus rows. Caveat for RAW [[ecdfTable]] input: the
    * count table is then corpus-DISTINCT-sized and the unpartitioned
    * window funnels through one task — raw input is for small/bounded
    * domains only (ints, enum codes, quantized upstream); a
    * continuous-valued corpus at scale must come in quantized
    * (`quantizedEcdfTable`) or through the grid-free rank sketch
    * ([[graft.ops.Sketches.rankSketch]]), same posture as the PRF
    * kFb ≤ 64 guard.
    */
  def quantilesFromEcdf(counts: DataFrame, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"quantilesFromEcdf: percentiles must be in [1,100], got $pcts")
    val spark = counts.sparkSession
    import spark.implicits._
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.select(col("v"), col("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(counts.agg(sum("cnt").as("n"))))
    val p = pcts.toDF("pct")
    cum.crossJoin(broadcast(p))
      .withColumn("r", greatest(lit(1L),
        ceil(col("pct").cast("double") / 100.0 * col("n").cast("double"))
          .cast("long")))
      .filter(col("cum") >= col("r"))
      .groupBy(col("pct"), col("r"), col("n"))
      .agg(min(col("v")).as("v_q"))
      .select(col("pct"), col("r"), col("n"), col("v_q"))
  }

  private def mergedCounts(corpusCounts: DataFrame, batch: DataFrame,
      valueCol: String): DataFrame = {
    val b = batch.select(col(valueCol).cast("double").as("__v"))
      .groupBy("__v").agg(count(lit(1)).as("cb"))
    corpusCounts
      .select(col("v").as("__v"), col("cnt").as("ca"), lit(0L).as("cb"))
      .unionByName(b.select(col("__v"), lit(0L).as("ca"), col("cb")))
      .groupBy("__v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
  }
}
