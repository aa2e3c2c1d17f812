package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Scratch

/** Bottom-k sketches, shard manifests, and rater agreement. */
class SketchesSpec extends SparkSpec {

  import spark.implicits._

  // 3 groups × synthetic tokens with duplicates; group g's token space is
  // id % m_g with m_g coprime to the group stride 3, so group g holds
  // EXACTLY m_g distinct tokens (40 / 140 / 230).
  private lazy val elems = spark.range(0, 9000)
    .select(
      concat(lit("g"), (col("id") % 3)).as("grp"),
      concat(lit("t"), (col("id") % 3), lit("-"),
        (col("id") % when(col("id") % 3 === 0, 40)
          .when(col("id") % 3 === 1, 140).otherwise(230))).as("tok"))

  test("bottomK: k smallest distinct hashes, ranked densely") {
    val sk = Sketches.bottomK(elems, "grp", "tok", k = 16).collect()
    sk.groupBy(_.getString(0)).foreach { case (_, rows) =>
      rows.length shouldBe 16
      val byRank = rows.sortBy(_.getInt(1))
      byRank.map(_.getInt(1)).toSeq shouldBe (1 to 16)
      val hs = byRank.map(_.getLong(2))
      hs.toSeq shouldBe hs.sorted.toSeq
      hs.distinct.length shouldBe hs.length
    }
  }

  test("merge law: merge of split sketches == sketch of the union") {
    val a = elems.filter(col("tok").substr(-1, 1).isin("0", "2", "4"))
    val b = elems.filter(!col("tok").substr(-1, 1).isin("0", "2", "4"))
    val merged = Sketches.merge(
      Sketches.bottomK(a, "grp", "tok", 16),
      Sketches.bottomK(b, "grp", "tok", 16), "grp", 16)
    val full = Sketches.bottomK(elems, "grp", "tok", 16)
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
  }

  test("distinctEstimate: exact below k, unbiased-ish above") {
    // g0 has 40 distinct tokens, g1 140, g2 230.
    val est = Sketches.distinctEstimate(
      Sketches.bottomK(elems, "grp", "tok", k = 64), "grp", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    est("g0")._1 shouldBe 40L
    est("g0")._2 shouldBe 40.0 // below k → exact
    est("g1")._1 shouldBe 64L
    est("g2")._1 shouldBe 64L
    // KMV relative error ~ 1/sqrt(k-1) ≈ 13%; allow 3σ.
    math.abs(est("g1")._2 - 140.0) / 140.0 should be < 0.4
    math.abs(est("g2")._2 - 230.0) / 230.0 should be < 0.4
  }

  test("tokenHash63: three-limb assembly, [0, 2^63) range, no limb cross-talk") {
    import graft.ext.TextHash
    val toks = elems.select(col("tok")).distinct().limit(200)
    val rows = toks.select(col("tok"),
      TextHash.tokenHash63(col("tok")).as("h63"),
      (TextHash.tokenHash(col("tok")) % 2097152L).as("l0"),
      (TextHash.tokenHash(concat(col("tok"), lit("|1"))) % 2097152L).as("l1"),
      (TextHash.tokenHash(concat(col("tok"), lit("|2"))) % 2097152L).as("l2"))
      .collect()
    rows.foreach { r =>
      val h = r.getLong(1)
      h should be >= 0L // 63 bits: the sign bit never sets
      h shouldBe ((r.getLong(2) << 42) | (r.getLong(3) << 21) | r.getLong(4))
      (h >> 42) shouldBe r.getLong(2) // disjoint ranges: no carry/overlap
      ((h >> 21) & 2097151L) shouldBe r.getLong(3)
      (h & 2097151L) shouldBe r.getLong(4)
    }
    // salted limbs are genuinely independent: collisions across the 200
    // tokens would need all three 21-bit limbs to agree
    rows.map(_.getLong(1)).distinct.length shouldBe rows.length
  }

  test("bottomK64: merge law and below-k exactness at the 2^63 space") {
    val a = elems.filter(col("tok").substr(-1, 1).isin("0", "2", "4"))
    val b = elems.filter(!col("tok").substr(-1, 1).isin("0", "2", "4"))
    val merged = Sketches.merge(
      Sketches.bottomK64(a, "grp", "tok", 16),
      Sketches.bottomK64(b, "grp", "tok", 16), "grp", 16)
    val full = Sketches.bottomK64(elems, "grp", "tok", 16)
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
    // estimator: exact below k; above k the 2^63-space KMV lands within
    // 3σ of the true count (deterministic hashes — a fixed number)
    val est = Sketches.distinctEstimate64(
      Sketches.bottomK64(elems, "grp", "tok", k = 64), "grp", k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3))).toMap
    est("g0") shouldBe ((40L, 40.0))
    math.abs(est("g1")._2 - 140.0) / 140.0 should be < 0.4
    math.abs(est("g2")._2 - 230.0) / 230.0 should be < 0.4
  }

  test("shardManifest: order-free checksum, totals, content-sensitive") {
    val docs = spark.range(0, 500)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id") % 7, lit(" x"), col("id") % 11).as("text"))
    val m1 = Manifest.shardManifest(docs, "doc_id", "text", shards = 4)
    // row order must not matter
    val m2 = Manifest.shardManifest(
      docs.orderBy(rand(7)).repartition(13), "doc_id", "text", shards = 4)
    m1.exceptAll(m2).count() shouldBe 0L
    m2.exceptAll(m1).count() shouldBe 0L
    val agg = m1.agg(sum("n_docs"), sum("n_tokens")).head
    agg.getLong(0) shouldBe 500L
    agg.getLong(1) shouldBe 1000L // every doc is 2 whitespace tokens
    // a one-doc edit flips that shard's checksum
    val edited = docs.withColumn("text",
      when(col("doc_id") === 42, lit("tampered doc")).otherwise(col("text")))
    val m3 = Manifest.shardManifest(edited, "doc_id", "text", shards = 4)
    m1.join(m3, "shard")
      .filter(m1("checksum") =!= m3("checksum")).count() shouldBe 1L
  }

  test("mergeManifests: merge of split manifests == manifest of the union") {
    val docs = spark.range(0, 500)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id") % 7, lit(" x"), col("id") % 11).as("text"))
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 =!= 0)
    val merged = Manifest.mergeManifests(
      Manifest.shardManifest(a, "doc_id", "text", shards = 4),
      Manifest.shardManifest(b, "doc_id", "text", shards = 4))
    val full = Manifest.shardManifest(docs, "doc_id", "text", shards = 4)
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
    // associativity across a three-way split (parallel shard writers)
    val c3 = Seq(0, 1, 2).map(r =>
      Manifest.shardManifest(docs.filter(col("doc_id") % 3 === r),
        "doc_id", "text", shards = 4))
    val chained = Manifest.mergeManifests(
      Manifest.mergeManifests(c3(0), c3(1)), c3(2))
    chained.exceptAll(full).count() shouldBe 0L
    full.exceptAll(chained).count() shouldBe 0L
  }

  test("cohenKappa: hand-computed 2x2 contingency") {
    // n=100: n11=40, n10=10, n01=5, n00=45 → po=0.85,
    // pe=(50·45 + 50·55)/10000=0.5, kappa=0.35/0.5=0.7
    val df = (Seq.fill(40)((true, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(45)((false, false)))
      .toDF("a", "b").withColumn("g", lit("all"))
    val r = Agreement.cohenKappa(df, "g", col("a"), col("b")).head
    r.getLong(1) shouldBe 100L
    (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) shouldBe
      ((40L, 10L, 5L, 45L))
    r.getDouble(6) shouldBe 0.85
    r.getDouble(7) shouldBe 0.5
    r.getDouble(8) shouldBe 0.7
  }

  test("cohenKappa: degenerate chance-agreement-1 group yields NULL") {
    val df = Seq.fill(10)((true, true)).toDF("a", "b")
      .withColumn("g", lit("all"))
    val r = Agreement.cohenKappa(df, "g", col("a"), col("b")).head
    r.isNullAt(8) shouldBe true
  }

  // ------------------------------------------------- grid-free rank KMV

  // two groups of skew-free continuous-ish values with duplicates:
  // group g0 holds v = id % 500 (each value ×4), g1 holds id % 700
  private lazy val vals = spark.range(0, 4000)
    .select(concat(lit("g"), col("id") % 2).as("grp"),
      when(col("id") % 2 === 0, (col("id") / 2) % 500)
        .otherwise((col("id") / 2) % 700).cast("long").as("v"))

  test("rankSketch: k rows per group, exact counts for kept values") {
    val sk = Sketches.rankSketch(vals, "grp", "v", k = 64)
    val rows = sk.collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      rs.length shouldBe 64
      rs.map(_.getLong(2)).distinct.length should be >= 1
    }
    // counts are EXACT: check every kept value against a direct count
    val direct = vals.groupBy("grp", "v").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      r.getLong(2) shouldBe direct((r.getString(0), r.getLong(1)))
    }
  }

  test("rankSketch merge law: merge of split sketches == cold rebuild") {
    val a = vals.filter(col("v") % 3 === 0)
    val b = vals.filter(col("v") % 3 =!= 0)
    val merged = Sketches.rankSketchMerge(
      Sketches.rankSketch(a, "grp", "v", 64),
      Sketches.rankSketch(b, "grp", "v", 64), "grp", 64)
    val full = Sketches.rankSketch(vals, "grp", "v", 64)
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
    // and the harder split: the SAME value occurring on both sides must
    // come out with the SUMMED exact count (split by row range, not value)
    val left = spark.range(0, 2000).select(
      concat(lit("g"), col("id") % 2).as("grp"),
      when(col("id") % 2 === 0, (col("id") / 2) % 500)
        .otherwise((col("id") / 2) % 700).cast("long").as("v"))
    val right = spark.range(2000, 4000).select(
      concat(lit("g"), col("id") % 2).as("grp"),
      when(col("id") % 2 === 0, (col("id") / 2) % 500)
        .otherwise((col("id") / 2) % 700).cast("long").as("v"))
    val merged2 = Sketches.rankSketchMerge(
      Sketches.rankSketch(left, "grp", "v", 64),
      Sketches.rankSketch(right, "grp", "v", 64), "grp", 64)
    merged2.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged2).count() shouldBe 0L
  }

  test("quantilesFromRankSketch: grid-free ladder tracks true quantiles") {
    // uniform values ⇒ the sampled-mass inverse CDF should land within
    // a few percent of the true percentile value at k=256 of 500/700
    // distinct values (deterministic hashes, so the bound is fixed).
    val q = Sketches.quantilesFromRankSketch(
      Sketches.rankSketch(vals, "grp", "v", 256), "grp", Seq(10, 50, 90))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    def truthFor(m: Long, p: Int): Double = m * p / 100.0
    for ((grp, m) <- Seq(("g0", 500L), ("g1", 700L)); p <- Seq(10, 50, 90)) {
      val got = q((grp, p)).toDouble
      math.abs(got - truthFor(m, p)) should be <= (0.12 * m)
    }
  }

  test("rankSketch persists and reloads through IndexStore (k rides along)") {
    Scratch.withTempDir("rsk-spec") { dir =>
      val sk = Sketches.rankSketch(vals, "grp", "v", 32)
      graft.ext.IndexStore.writeRankSketch(sk, 32, s"$dir/rs")
      val (loaded, k) = graft.ext.IndexStore.loadRankSketch(spark, s"$dir/rs")
      k shouldBe 32
      loaded.exceptAll(sk).count() shouldBe 0L
      sk.exceptAll(loaded).count() shouldBe 0L
      // and a second write over the same path swaps atomically
      graft.ext.IndexStore.writeRankSketch(sk, 32, s"$dir/rs")
      graft.ext.IndexStore.loadRankSketch(spark, s"$dir/rs")._2 shouldBe 32
    }
  }
}
