package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY §4): two-phase salted aggregation and salted
  * joins for keys whose row counts dwarf the rest (at 100 TB one hot key
  * can pin a single reducer for hours while AQE's skew handling only
  * splits *sort-merge join* partitions, not aggregation buckets).
  *
  * saltedAgg: groupBy(key, salt) partial-aggregates into `buckets`
  * sub-groups per key, then groupBy(key) combines the partials — the
  * classic re-association, valid for any commutative-associative
  * aggregate. Results identical to the direct groupBy.
  *
  * saltedBroadcastJoin: replicates the (small) build side `buckets` times
  * so a salted probe side joins without concentrating a hot key.
  *
  * atFullWidth: the partitioning half — pins an exchange at
  * `spark.sql.shuffle.partitions` so AQE cannot coalesce it onto a few
  * tasks (the similarity joins' pair dedups and gid probes, the raster
  * sampler's tile exchange, the media pipelines' id spread).
  */
object Salting {

  /** Deterministic salt in [0, buckets) derived from stable row content. */
  private def salt(of: Column, buckets: Int): Column =
    pmod(xxhash64(of), lit(buckets))

  /** Candidate-pair dedup at FULL configured parallelism — the
    * distinct-before-verify exchanges of every similarity join go through
    * here. A plain `.distinct()` lets AQE coalesce the post-shuffle
    * aggregate by BYTES (`parallelismFirst` target
    * `max(total/parallelism, minPartitionSize=1m)`), and 16-byte long-pair
    * rows compress so well that millions of raw matches collapse onto a
    * handful of tasks: the q86 candidate dedup measured 4.3 s coalesced vs
    * 0.87 s at full width (sf0.1, min-of-2 noop A/B), with the identical
    * time when coalescing was disabled outright — the byte heuristic, not
    * the work, was the bottleneck. An explicit
    * `repartition(spark.sql.shuffle.partitions, keys)` pins the exchange
    * width (AQE never coalesces a user-specified repartition), so the
    * CPU-bound dedup keeps every core; `spark.sql.shuffle.partitions` is
    * already the deployment's scale knob, so the pin is exactly as
    * scale-adaptive as the rest of the plan. Deliberately NOT a session-
    * wide `minPartitionSize` floor: that variant was measured to tax every
    * small iterative query (~0.2-0.3 s per PageRank/HITS-shaped query —
    * dozens of tiny stages each fragmenting into 32 tasks) while only
    * these pair exchanges need the width.
    *
    * Tradeoff (round-17 note): a user-specified repartition
    * (REPARTITION_BY_NUM) also opts the exchange out of AQE's
    * `OptimizeSkewedJoin`, so a hot key cannot be runtime-split here. For
    * the gid probes that risk is structurally bounded — rarest-first
    * prefix filtering makes probe buckets the SMALLEST gram buckets — and
    * the soak's "pinned exchange skew" stage asserts the post-pin
    * max/median partition-row ratio stays ≤ 4 at the 1M-doc shape
    * (measured: gid probes 1.00, doc_a pairs 1.19; see Soak.scala). If
    * a future corpus breaks that
    * assertion, salt the pin keys before reaching for the session knob.
    */
  private[graft] def atFullWidth(keys: String*)(df: DataFrame): DataFrame = {
    // Try(...): the conf can be non-numeric on some platforms ("auto");
    // fall back to the cluster's default parallelism rather than throw.
    val p = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    df.repartition(p, keys.map(col): _*)
  }

  /** Two-phase sum/count aggregation over a (possibly skewed) key.
    * `aggs` maps output column name → (valueColumn, "sum" | "count").
    */
  def saltedAgg(df: DataFrame, keyCol: String, saltBy: String, buckets: Int,
      aggs: Map[String, (String, String)]): DataFrame = {
    val partialAggs = aggs.map { case (out, (in, kind)) =>
      (kind match {
        case "sum" => sum(col(in))
        case "count" => count(col(in))
        case other => throw new IllegalArgumentException(s"agg kind $other")
      }).as(s"_p_$out")
    }.toSeq
    val finalAggs = aggs.keys.map(out => sum(col(s"_p_$out")).as(out)).toSeq
    df.withColumn("_salt", salt(col(saltBy), buckets))
      .groupBy(col(keyCol), col("_salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
      .groupBy(col(keyCol))
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted broadcast join: probe side salted by row content, build side
    * exploded to every salt value; equi-join on (key, salt). Identical
    * row multiset to `probe.join(build, key)` when `build` has unique keys.
    */
  def saltedBroadcastJoin(probe: DataFrame, build: DataFrame, keyCol: String,
      buckets: Int): DataFrame = {
    val saltedProbe = probe.withColumn("_salt",
      salt(concat_ws("\u0000", probe.columns.map(col): _*), buckets))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    saltedProbe.join(broadcast(replicated), Seq(keyCol, "_salt")).drop("_salt")
  }

  /** JOIN-KEY SKEW advisor: the top-k hottest keys of a prospective
    * join/aggregation key with, per key, its row count, corpus share,
    * skew factor (count ÷ mean-per-key — how many average keys' worth of
    * rows land on one reducer), and the salt bucket count that brings it
    * under `targetPerTask` rows per task (`ceil(cnt / target)`, integer
    * div — exactly the `buckets` argument [[saltedAgg]]/[[saltedJoin]]
    * take). The measurement step of the salting workflow: run the
    * advisor on the key, feed the recommendation to the salted
    * operators. All-integer except the two exact-ratio doubles; ranking
    * tiebreaks on the key; `row_number ≤ k` keeps only k·partitions
    * rows shuffling. Output (key, cnt, share, skew, salt_buckets).
    */
  def skewReport(df: DataFrame, keyCol: String, targetPerTask: Long,
      k: Int): DataFrame = {
    require(targetPerTask > 0 && k > 0, "skewReport: target and k positive")
    import org.apache.spark.sql.expressions.Window
    val cnt = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum("cnt").as("__n"), count(lit(1)).as("__k"))
    cnt
      .withColumn("__r", row_number().over(
        Window.orderBy(col("cnt").desc, col("key"))))
      .filter(col("__r") <= k)
      .crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("__n"), 6).as("share"),
        round(col("cnt").cast("double") * col("__k") / col("__n"), 6)
          .as("skew"),
        // integer `div`, never `/`: Column./ on longs returns double
        expr(s"(cnt + ${targetPerTask - 1}L) div ${targetPerTask}L")
          .as("salt_buckets"))
      .orderBy(col("cnt").desc, col("key"))
  }
}
