package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: per-key resampling onto a fixed-step grid
  * with last-observation-carried-forward (LOCF) gap fill, and the dual
  * gap report. The missing operator between the event-log queries (q22
  * windows, q51 funnels, q155 streaks) and model-ready series — ML
  * feature pipelines want one row per (key, step), not ragged
  * observation times. Extension surface [X]; the reference has no
  * temporal ops (cf. `/root/reference/README.md` scope).
  *
  * Scale shape: everything is keyed by (key) or (key, bucket) — one
  * shuffle; the grid explode is bounded per key by span/step (a config
  * choice, not data volume); the LOCF window and the islands windows are
  * partition-local scans; the in-bucket dedup's row_number ≤ 1 plans a
  * partial WindowGroupLimit before its exchange (only one row per
  * (key, bucket) group survives the map side).
  */
object Timeseries {

  /** Resample to a regular `stepUs`-microsecond grid: one output row per
    * (key, bucket) between each key's first and last observation. The
    * bucket's representative observation is the LATEST event in the
    * bucket (ties on ts broken by value, a total order — cross-engine
    * rank discipline); empty buckets carry the previous value forward
    * (`filled = true`). No arithmetic touches the value, so parity is
    * exact. Output: (keyCol, bkt, grid_us, value, filled) — `grid_us` is
    * the bucket's epoch-microsecond start (a timestamp column would drag
    * session-TZ rendering into the hash compare for zero information).
    */
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, stepUs: Long): DataFrame = {
    require(stepUs > 0, s"resampleLocf: stepUs > 0, got $stepUs")
    val obs0 = df.select(col(keyCol), unix_micros(col(tsCol)).as("tus"),
        col(valueCol).as("v"))
      .withColumn("bkt", expr(s"tus DIV ${stepUs}L"))
    val wDedup = Window.partitionBy(keyCol, "bkt")
      .orderBy(col("tus").desc, col("v").desc)
    val obs = obs0.withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1).select(col(keyCol), col("bkt"), col("v"))
    val grid = obs0.groupBy(keyCol)
      .agg(min("bkt").as("lo"), max("bkt").as("hi"))
      .select(col(keyCol), explode(sequence(col("lo"), col("hi"))).as("bkt"))
    val wFill = Window.partitionBy(keyCol).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq(keyCol, "bkt"), "left")
      .withColumn("filled", col("v").isNull)
      .withColumn("value", last(col("v"), ignoreNulls = true).over(wFill))
      .select(col(keyCol), col("bkt"), (col("bkt") * stepUs).as("grid_us"),
        col("value"), col("filled"))
  }

  /** ROLLING MEDIAN smoothing over an ordered per-key series (typically
    * [[resampleLocf]]'s regular grid): the robust alternative to a
    * moving average — one outlier bucket cannot drag the smoothed level
    * (the q153 median-vs-mean argument applied along time). Frame is
    * ±`halfWindow` ROWS around each cell, partition-local (no shuffle
    * beyond the key partitioning); exact percentile, interpolated as the
    * mean of the two middle values on even frames — the same rule both
    * engines use, and (a+b)/2 on doubles is engine-independent. Output:
    * the input plus `smoothed` (round 6).
    */
  def rollingMedian(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, halfWindow: Int): DataFrame = {
    require(halfWindow >= 1, s"rollingMedian: halfWindow >= 1")
    val w = Window.partitionBy(keyCol).orderBy(ordCol)
      .rowsBetween(-halfWindow, halfWindow)
    df.withColumn("smoothed",
      round(percentile(col(valueCol), lit(0.5)).over(w), 6))
  }

  /** Per-key EWMA level: the left fold `s ← s + (x − s)/alphaDen` over
    * the series in `ordCol` order, seeded with the first value — the
    * smoothed "current level" a monitoring pipeline tracks per key.
    * A recursion cannot be a window function; per key it is a
    * `aggregate` fold over the collected, sorted series — bounded by the
    * grid length (a config choice: span/step), NOT by event volume, so
    * the interpreted-HOF rule for unbounded arrays does not bite. Both
    * engines execute the identical double-op sequence (left fold in
    * bucket order), so the result is bit-equal before the final round.
    * Output: (keyCol, n, ewma).
    */
  def ewmaLevel(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, alphaDen: Int): DataFrame = {
    require(alphaDen >= 2, s"ewmaLevel: alphaDen >= 2, got $alphaDen")
    val arr = array_sort(collect_list(struct(col(ordCol).as("o"),
      col(valueCol).as("v"))))
    df.groupBy(keyCol)
      .agg(count(lit(1)).as("n"), arr.as("__a"))
      .select(col(keyCol), col("n"),
        round(aggregate(
          slice(col("__a"), lit(2), size(col("__a")) - 1),
          element_at(col("__a"), 1).getField("v"),
          (s, e) => s + (e.getField("v") - s) / lit(alphaDen.toDouble)),
          6).as("ewma"))
  }

  /** The dual observability report: per key, the GAPS in its bucket grid
    * — total missing buckets, number of contiguous gap runs, and the
    * longest run (q155's gaps-and-islands idiom on the COMPLEMENT set:
    * island key = bucket − dense_rank over observed buckets; a gap's
    * length is the bucket distance between consecutive observations − 1).
    * All integer. Output: (keyCol, n_buckets, n_missing, n_gaps,
    * longest_gap) — keys with a dense grid report zeros, not absence.
    */
  def gapReport(df: DataFrame, keyCol: String, tsCol: String,
      stepUs: Long): DataFrame = {
    require(stepUs > 0, s"gapReport: stepUs > 0, got $stepUs")
    val obs = df.select(col(keyCol),
        expr(s"unix_micros($tsCol) DIV ${stepUs}L").as("bkt"))
      .distinct()
    val w = Window.partitionBy(keyCol).orderBy("bkt")
    val gaps = obs.withColumn("prev", lag(col("bkt"), 1).over(w))
      .withColumn("gap", col("bkt") - col("prev") - 1)
    gaps.groupBy(keyCol).agg(
      (max("bkt") - min("bkt") + 1).as("n_buckets"),
      coalesce(sum("gap"), lit(0L)).as("n_missing"),
      coalesce(sum(when(col("gap") > 0, 1L)), lit(0L)).as("n_gaps"),
      coalesce(max(when(col("gap") > 0, col("gap"))), lit(0L))
        .as("longest_gap"))
  }

  /** SEQUENTIAL k-stage funnel: per key, the chained first-completion
    * times `t1 = min(ts | type = stages(0))`,
    * `t_{i+1} = min(ts | type = stages(i), ts > t_i)` — each stage must
    * happen STRICTLY AFTER the previous one, which is the semantics q51's
    * first-occurrence comparison cannot express past two stages (its
    * global first purchase may precede the first click). Output one row
    * per key that completed stage 1: (keyCol, t1..tk as epoch-µs, depth)
    * with NULLs from the drop-off stage on and `depth` = completed
    * stages.
    *
    * Scale shape: stage i is one type-pruned scan (the filter reaches
    * the parquet scan) joined on the key and min-aggregated — k−1
    * key-partitioned shuffles of ALREADY-AGGREGATED left sides (one row
    * per surviving user), never an event-by-event window; conditional
    * min handles the "after t_i" restriction without a sort.
    */
  def sequentialFunnel(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      s"sequentialFunnel: stages must be non-empty and distinct: $stages")
    val ev = events.select(col(keyCol), col(typeCol),
      unix_micros(col(tsCol)).as("__us"))
    val s1 = ev.filter(col(typeCol) === stages.head)
      .groupBy(keyCol).agg(min("__us").as("t1"))
    val full = stages.zipWithIndex.drop(1).foldLeft(s1) {
      case (prev, (st, i)) =>
        val (tPrev, tCur) = (s"t$i", s"t${i + 1}")
        val groupCols = (col(keyCol) +: (1 to i).map(j => col(s"t$j")))
        prev.join(
          ev.filter(col(typeCol) === st)
            .select(col(keyCol), col("__us")),
          Seq(keyCol), "left")
          .groupBy(groupCols: _*)
          .agg(min(when(col("__us") > col(tPrev), col("__us"))).as(tCur))
    }
    full.withColumn("depth",
      stages.indices.drop(1)
        .map(i => col(s"t${i + 1}").isNotNull.cast("long"))
        .foldLeft(lit(1L))(_ + _))
  }

  /** One-sided (upward) CUSUM changepoint statistic (Page, Biometrika
    * 1954) per key over a regular grid series ([[resampleLocf]] output):
    * `S_t = max(0, S_{t−1} + (v_t − target))`, reporting the maximal
    * excursion and the EARLIEST bucket achieving it — the
    * "when did this series start running hot" monitoring read that
    * point-in-time drift tests (KS/PSI, distribution-level) cannot give.
    *
    * Implementation is NOT the naive fold: the classic prefix identity
    * `S_t = C_t − min(0, min_{j≤t} C_j)` (C = running sum of v − target)
    * turns the recursion into two CUMULATIVE windows + a rank — fully
    * relational, no per-key array materializes (better than the q169
    * fold at 100 TB grid widths), and cumulative frames are the
    * cross-engine-safe window class (running evaluation on both
    * engines — the q180 rule: only SLIDING frames segment-tree).
    * Belt: the argmax ranks on the ROUNDED excursion with the bucket
    * tiebreak (the q47/q48 rounded-rank rule). A DuckDB-1.0 caveat
    * recorded for posterity: `list_reduce` with a STRUCT accumulator
    * evaluates later fields against a partially-updated accumulator —
    * a struct-state fold twin is NOT portable; the window identity
    * sidesteps it entirely.
    *
    * Output: (key, n_buckets, cusum_max, bkt_at_max); `bkt_at_max` = −1
    * when the series never rises above the target (no excursion).
    */
  def cusum(grid: DataFrame, keyCol: String, bktCol: String,
      valueCol: String, target: Double): DataFrame = {
    require(java.lang.Double.isFinite(target),
      s"cusum: target must be finite, got $target")
    val wCum = Window.partitionBy(keyCol).orderBy(bktCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    val wRank = Window.partitionBy(keyCol)
      .orderBy(col("__s").desc, col(bktCol).asc)
    grid
      .select(col(keyCol), col(bktCol).cast("long").as(bktCol),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__c", sum(col("__v") - lit(target)).over(wCum))
      .withColumn("__s", graft.syntax.round6z(
        col("__c") - least(min(col("__c")).over(wCum), lit(0.0))))
      .withColumn("n_buckets", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("n_buckets"),
        col("__s").as("cusum_max"),
        when(col("__s") > 0.0, col(bktCol)).otherwise(lit(-1L))
          .as("bkt_at_max"))
  }

  /** Kaplan-Meier survival curve (Kaplan & Meier, JASA 1958) for
    * time-to-`eventType` after a key's first `entryType`, by entry-week
    * cohort — the retention/churn read q52's fixed-lag retention cannot
    * give: the WHOLE time-to-event distribution with right-censoring
    * handled correctly (users who never convert are censored at the last
    * observed timestamp, not dropped — dropping them biases survival
    * down; counting them as never-converting biases it up).
    *
    * Semantics: t0 = first entry event per key; the event time is the
    * first `eventType` STRICTLY after t0 (the q221 chained-order rule);
    * observed day = (t − t0) div 86400000000 µs. At each observed day
    * n_risk = users still under observation (censored-at-day users count
    * as at risk THAT day — the standard events-before-censoring
    * convention), and S(day) = Π_{d ≤ day} (1 − d_events/n_risk).
    *
    * Cross-engine float discipline: each factor is one exact integer
    * division and subtraction; the running product is a SEQUENTIAL fold
    * over the day-sorted per-cohort array on BOTH engines (`aggregate`
    * here ≡ `list_reduce` in the twin — the q169 EWMA rule: identical
    * fold order gives identical doubles), rounded once at the surface.
    * The interpreted higher-order fold is fine HERE because it runs over
    * curve rows (cohorts × observed days — thousands), never corpus
    * rows; the corpus-scale work is the two type-pruned scans and one
    * (cohort, day) group-by.
    *
    * Output: (cohort_us, day, n_risk, d_events, c_censored, survival).
    */
  def kaplanMeier(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, entryType: String, eventType: String): DataFrame = {
    require(entryType != eventType,
      s"kaplanMeier: entryType and eventType must differ, got '$entryType'")
    val dayUs = 86400000000L
    val ev = events.select(col(keyCol), col(typeCol),
      unix_micros(col(tsCol)).as("__us"))
    val entry = ev.filter(col(typeCol) === entryType)
      .groupBy(keyCol).agg(min("__us").as("t0"))
    val withEvt = entry
      .join(ev.filter(col(typeCol) === eventType)
        .select(col(keyCol), col("__us")), Seq(keyCol), "left")
      .groupBy(col(keyCol), col("t0"))
      .agg(min(when(col("__us") > col("t0"), col("__us"))).as("tevt"))
    val maxUs = ev.agg(max("__us").as("__mu"))
    val perUser = withEvt.crossJoin(broadcast(maxUs))
      // integer `div`, not `/` — float division then cast would be a
      // truncation of a rounded quotient, not the exact floor
      .withColumn("__dt",
        when(col("tevt").isNotNull, col("tevt") - col("t0"))
          .otherwise(col("__mu") - col("t0")))
      .select(
        unix_micros(date_trunc("week", timestamp_micros(col("t0"))))
          .as("cohort_us"),
        expr(s"__dt div ${dayUs}L").as("day"),
        col("tevt").isNotNull.cast("long").as("ev"))
    val dayTab = perUser.groupBy(col("cohort_us"), col("day"))
      .agg(sum(col("ev")).as("d_events"),
        sum(lit(1L) - col("ev")).as("c_censored"))
    val wAll = Window.partitionBy("cohort_us")
    val wPrior = Window.partitionBy("cohort_us").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = dayTab.withColumn("n_risk",
      sum(col("d_events") + col("c_censored")).over(wAll) -
        coalesce(sum(col("d_events") + col("c_censored")).over(wPrior),
          lit(0L)))
      .localCheckpoint() // feeds the fold input AND the join-back side
    val folded = risk
      .groupBy(col("cohort_us"))
      .agg(sort_array(collect_list(
        struct(col("day"), col("d_events").as("d"), col("n_risk").as("n"))))
        .as("arr"))
      .select(col("cohort_us"), col("arr"),
        posexplode(col("arr")).as(Seq("pos", "x")))
      .select(col("cohort_us"), col("x.day").as("day"),
        graft.syntax.round6z(aggregate(
          slice(col("arr"), lit(1), col("pos") + 1), lit(1.0d),
          (acc, e) => acc *
            (lit(1.0d) - e.getField("d").cast("double") / e.getField("n"))))
          .as("survival"))
    risk.join(folded, Seq("cohort_us", "day"))
      .select(col("cohort_us"), col("day"), col("n_risk"),
        col("d_events"), col("c_censored"), col("survival"))
  }
}
