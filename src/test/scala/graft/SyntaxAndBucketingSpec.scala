package graft

import org.apache.spark.sql.functions._

import graft.ops.Bucketing

/** The import-one-thing user surface + bucketed co-located joins. */
class SyntaxAndBucketingSpec extends SparkSpec {
  import spark.implicits._
  import graft.syntax._

  test("syntax: dataframe and column operators chain naturally") {
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "el perro y la casa de que en madrid")
    ).toDF("doc_id", "text")
    docs.dedupExact("doc_id", "text").count() shouldBe 2
    docs.minhashSignature("doc_id", "text").columns should contain("mh0")
    docs.ngrams("doc_id", "text", 2).count() should be > 0L
    val out = docs.select($"doc_id", $"text".languageId.as("lang"),
      $"text".tokenCount.as("n"))
    out.filter($"doc_id" === 3L).head().getString(1) shouldBe "es"
    val v = array(lit(1.0), lit(2.0))
    Seq(1).toDF("x").select(v.dot(v)).as[Double].head() shouldBe 5.0
    // curation sugar: clusters, splits, packing, scoring
    docs.dedupClusters("doc_id", "text")
      .filter($"cluster_id" === 1L).count() shouldBe 2 // docs 1+2 identical
    docs.select($"doc_id".splitAssign).distinct().count() should be <= 3L
    docs.filter($"doc_id".stratifiedKeep(lit("en"), Map("en" -> 100))).count() shouldBe 3
    docs.packShards("doc_id", "text", $"text".tokenCount, 8L)
      .columns should contain("shard")
    docs.unigramLogProb("doc_id", "text").columns should contain("logprob")
    // round-11 sugar: drift stats, retrieval, routing, skew
    val vals = Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false))
      .toDF("v", "a")
    vals.ksDrift("v", $"a").columns should contain("d_stat")
    vals.wassersteinDrift("v", $"a").columns should contain("w1")
    val ref = vals.filter($"a").ecdfTable("v")
    vals.filter(!$"a").ksDriftAgainst(ref, "v").columns should contain("d_stat")
    vals.filter(!$"a").wassersteinAgainst(ref, "v").columns should contain("w1")
    docs.maxSimTopK("doc_id", "text", Seq("quick", "casa"), 3)
      .columns should contain("maxsim")
    docs.routeByTopic("doc_id", "text",
      Map("en" -> Seq("quick"), "es" -> Seq("casa")))
      .count() shouldBe 3
    docs.skewReport("doc_id", 10L).columns should contain("salt_buckets")
    // round-3 sugar: repetition, redaction, CDC, interval join
    docs.repetitionMetrics("doc_id", "text").columns should contain("top_bigram_frac")
    Seq("mail a@b.co now 123").toDF("t")
      .select($"t".redactPii).head().getString(0) shouldBe "mail [EMAIL] now #"
    Seq("  A  b!").toDF("t").select($"t".normalized).head().getString(0) shouldBe "a b"
    val snap = Seq((1L, 1.0)).toDF("k", "v")
    snap.diffAgainst(Seq((1L, 2.0)).toDF("k", "v"), "k", Seq("v"))
      .head().getString(1) shouldBe "update"
    val ivl = Seq((1L, 10L, 0L, 5L)).toDF("key", "lid", "ls", "le")
    val ivr = Seq((1L, 20L, 4L, 9L)).toDF("key", "rid", "rs", "re")
    ivl.intervalJoin(ivr, "ls", "le", "rs", "re", Seq("key"), 8L)
      .count() shouldBe 1
    // round-4 sugar: line dedup, substring spans, jaccard join, as-of
    // directions, heavy hitters, blocked pairs
    val ml = Seq((1L, "x\ny"), (2L, "x\nz")).toDF("doc_id", "text")
    ml.dropBoilerplate("doc_id", "text").orderBy("doc_id")
      .collect().map(_.getString(1)).toSeq shouldBe Seq("y", "z")
    docs.repeatedSubstrSpans("doc_id", "text", l = 3)
      .filter($"doc_id" <= 2L).count() shouldBe 2 // docs 1+2 identical
    docs.jaccardJoin("doc_id", "text", 2, 1, 2)
      .select("doc_a", "doc_b").head().toSeq shouldBe Seq(1L, 2L)
    val trades = Seq(("A", 10L, 1.0)).toDF("sym", "t", "px")
    val quotes = Seq(("A", 12L, 2.0)).toDF("sym", "qt", "qx")
    trades.asOfJoin(quotes, "sym", "t", "qt", direction = "nearest")
      .head().getAs[Double]("r_qx") shouldBe 2.0
    Seq("a", "a", "b").toDF("w").heavyHitters("w", 0.5)
      .head().getString(0) shouldBe "a"
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    emb.nearDuplicatesBlocked("embedding", "vec_id", 0.9).count() shouldBe 1
    // README's two join forwarders: the same rows as their operators
    val sigs = docs.minhashSignature("doc_id", "text")
    sigs.lshCandidates("doc_id", Seq(Seq("mh0", "mh1"))).collect().toSet shouldBe
      graft.ext.Dedup.lshCandidatePairs(sigs, "doc_id", Seq(Seq("mh0", "mh1"))).collect().toSet
    val ws = vals.select($"v".as("w"))
    vals.bandedJoin(ws, "v", "w", 1.0).collect().toSet shouldBe
      graft.ops.RangeJoin.banded(vals, ws, "v", "w", 1.0).collect().toSet
  }

  test("bucketed join plans without an exchange (co-located storage)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = spark.range(0, 10000)
        .select(col("id").as("k"), (col("id") % 17).as("v"))
      val dims = spark.range(0, 10000)
        .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
      Bucketing.writeBucketed(facts, "b_facts", "k", 8)
      Bucketing.writeBucketed(dims, "b_dims", "k", 8)
      val joined = Bucketing.bucketedJoin(spark, "b_facts", "b_dims", "k")
      joined.count() shouldBe 10000
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
      // the same join on unbucketed frames shuffles both sides
      val unbucketed = facts.join(dims, "k").queryExecution.executedPlan.toString
      unbucketed should include("Exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("round6z: -0.0-shaped inputs normalize to +0.0, non-zeros unchanged") {
    // The round-10 q171/q174 failure: round(x, 6) of any x in (-5e-7, 0)
    // yields -0.0, and the driver's hash is bit-strict about zero's sign.
    // round6z appends + 0.0 (IEEE: -0.0 + 0.0 = +0.0 under round-to-nearest).
    val vals = Seq(-1e-12, -4.9e-7, -0.0, 0.0, 1e-12, -1.5, 2.25, -4.999999e-7)
    val out = vals.toDF("x").select(graft.syntax.round6z($"x").as("z"))
      .collect().map(_.getDouble(0))
    out.foreach { z =>
      // no negative zero survives: the raw bits must equal +0.0's when zero
      if (z == 0.0)
        java.lang.Double.doubleToRawLongBits(z) shouldBe
          java.lang.Double.doubleToRawLongBits(0.0)
    }
    out.toSeq shouldBe Seq(0.0, 0.0, 0.0, 0.0, 0.0, -1.5, 2.25, 0.0)
    // the DuckDB-side idiom is the literal `+ 0.0` after round(…, 6):
    // both engines agree because the normalization is pure IEEE arithmetic
    Seq(-4.9e-7).toDF("x").select((round($"x", 6) + lit(0.0)).as("z"))
      .head().getDouble(0).compareTo(0.0) shouldBe 0
  }
}
