package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestSpark}
import graft.queries.Scratch

/** Persisted index probes must be PARTITION-pruned (plan-level pins, the
  * q92 discipline): a probe that re-scans the whole stored index would
  * erase the point of the index at 100 TB.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def scanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString()).mkString

  test("postings store: term probe prunes to the queried buckets") {
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha delta"), (2L, "beta beta zeta"),
      (3L, "eta theta iota"), (4L, "kappa alpha mu")
    ).toDF("doc_id", "text")
    val index = Retrieval.invertedIndex(docs, "doc_id", "text",
      minDf = 1L, postingCap = 5)
    Scratch.withTempDir("idx_postings_") { tmp =>
      val dir = tmp.toString
      IndexStore.writePostings(index, dir, nBuckets = 8)
      val probe = IndexStore.readPostings(spark, dir, Seq("alpha", "zeta"),
        nBuckets = 8)
      // results match the in-memory index exactly
      val want = index.filter($"w".isin("alpha", "zeta"))
        .collect().map(_.toSeq).toSet
      probe.select(index.columns.map(col): _*)
        .collect().map(_.toSeq).toSet shouldBe want
      // the bucket predicate must land in PartitionFilters (pruned read),
      // the term predicate in the data filters
      val scan = scanString(probe)
      scan should include regex "PartitionFilters: \\[.*term_bucket.*\\]"
      // wrong-bucket partitions are not read: probing a term whose bucket
      // holds nothing returns empty WITHOUT scanning others' partitions
      IndexStore.readPostings(spark, dir, Seq("nosuchterm"), nBuckets = 8)
        .count() shouldBe 0L
    }
  }

  test("signature store: lossless round-trip; dist-0 lookup prunes partitions") {
    val sig = Seq((1L, 42L), (2L, -7L), (3L, 42L), (4L, Long.MinValue),
      (5L, Long.MaxValue)).toDF("media_id", "ph")
    Scratch.withTempDir("idx_sig_") { tmp =>
      val dir = tmp.toString
      IndexStore.writeSignatures(sig, dir, nBuckets = 8)
      // full load round-trips every (id, hash) exactly — negative hashes
      // and the extremes included
      IndexStore.loadSignatures(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
        sig.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the exact-fingerprint fast path reads only the queried buckets
      val probe = IndexStore.readSignaturesExact(spark, dir, Seq(42L, -7L),
        nBuckets = 8)
      probe.collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 3L)
      val scan = scanString(probe)
      scan should include regex "PartitionFilters: \\[.*sig_bucket.*\\]"
    }
  }

  test("IVF-PQ code store: nprobe search is partition pruning") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val model = IvfPq.build(emb, "embedding", "vec_id",
      nlist = 8, m = 8, ksub = 16, maxIter = 5)
    Scratch.withTempDir("idx_ivfpq_") { tmp =>
      val dir = tmp.toString
      IndexStore.writeIvfPqCodes(model, dir)
      val loaded = IndexStore.loadIvfPqCodes(model, spark, dir)
      val qv = emb.filter($"vec_id" === 0)
        .head().getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble).toArray
      val fromStore = IvfPq.search(loaded, emb, "embedding", "vec_id", qv,
        nprobe = 3, k = 10)
      val inMemory = IvfPq.search(model, emb, "embedding", "vec_id", qv,
        nprobe = 3, k = 10)
      fromStore.collect().map(_.toSeq).toSeq shouldBe
        inMemory.collect().map(_.toSeq).toSeq
      // the nprobe cell filter must be a PartitionFilter on the stored scan
      val shortlistPlan = loaded.encoded
        .filter($"cell".isin(0, 1, 2))
      scanString(shortlistPlan) should include regex
        "PartitionFilters: \\[.*cell.*\\]"
    }
  }

  test("gram index store: load ≡ build for every join, probe, and append") {
    val rnd = new scala.util.Random(71)
    val corpusRows = (0 until 50).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(30)}")
      (i.toLong, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val built = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    Scratch.withTempDir("idx_gram_") { tmp =>
      val dir = tmp.toString
      IndexStore.writeGramIndex(built, dir)
      val loaded = IndexStore.loadGramIndex(spark, dir)
      loaded.n shouldBe 2
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      // all three exact joins read from the store and agree with the build
      rows(Dedup.jaccardSimilarityJoin(loaded, 1, 2)) shouldBe
        rows(Dedup.jaccardSimilarityJoin(built, 1, 2))
      rows(Dedup.cosineSimilarityJoin(loaded, 7, 10)) shouldBe
        rows(Dedup.cosineSimilarityJoin(built, 7, 10))
      rows(Dedup.containmentJoin(loaded, 4, 5)) shouldBe
        rows(Dedup.containmentJoin(built, 4, 5))
      // an incremental probe against the loaded index finds its twin
      val probe = Seq((300L, corpusRows(7)._2)).toDF("doc_id", "text")
      Dedup.incrementalJaccardJoin(loaded, probe, "doc_id", "text", 9, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))) should
        contain((300L, 7L))
      // ...and the loaded index appends like the in-memory one
      val batch = Seq((400L, corpusRows(3)._2 + " tail"),
        (401L, "zz1 zz2 zz3 zz4 zz5 zz6")).toDF("doc_id", "text")
      rows(Dedup.jaccardSimilarityJoin(
        loaded.append(batch, "doc_id", "text"), 1, 2)) shouldBe
        rows(Dedup.jaccardSimilarityJoin(
          built.append(batch, "doc_id", "text"), 1, 2))
    }
  }

  test("ecdf store: load ≡ build for the KS/W1 probes; step rides along") {
    import graft.ops.Drift
    val rnd = new scala.util.Random(41)
    val corpusVals = (0 until 600).map(_ => rnd.nextDouble() * 30.0)
    val step = 0.2
    val built = Drift.quantizedEcdfTable(
      corpusVals.toDF("value"), "value", step)
    Scratch.withTempDir("idx_ecdf_") { tmp =>
      val dir = s"$tmp/quantized"
      IndexStore.writeEcdfTable(built, dir, Some(step))
      val (loaded, loadedStep) = IndexStore.loadEcdfTable(spark, dir)
      loadedStep shouldBe Some(step)
      val batch = (0 until 90).map(_ => rnd.nextDouble() * 30.0 + 4.0)
        .toDF("value")
      Drift.incrementalKsQuantized(loaded, batch, "value", step)
        .head() shouldBe
        Drift.incrementalKsQuantized(built, batch, "value", step).head()
      Drift.incrementalWassersteinQuantized(loaded, batch, "value", step)
        .head() shouldBe
        Drift.incrementalWassersteinQuantized(built, batch, "value", step)
          .head()
      // raw (unquantized) tables round-trip with step = None
      val rawDir = s"$tmp/raw"
      IndexStore.writeEcdfTable(
        Drift.ecdfTable(corpusVals.toDF("value"), "value"), rawDir)
      IndexStore.loadEcdfTable(spark, rawDir)._2 shouldBe None
      // a NaN/zero/negative/infinite step would silently round-trip as a
      // RAW table (NaN is the step=None on-disk encoding) — rejected loudly
      val t = Drift.ecdfTable(corpusVals.toDF("value"), "value")
      for (bad <- Seq(Double.NaN, 0.0, -0.5, Double.PositiveInfinity))
        an[IllegalArgumentException] should be thrownBy
          IndexStore.writeEcdfTable(t, rawDir, Some(bad))
    }
  }

  test("psi store: bucket table + threshold ladder round-trip, probe ≡ build") {
    import graft.ops.Drift
    val thresholds = Seq(10L, 40L, 70L)
    val corpus = (0L until 200L).map(i => i % 100L).toDF("v")
    val refBuckets = corpus
      .select(Drift.bucketOf(col("v"), thresholds).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_ref"))
    Scratch.withTempDir("idx_psi_") { tmp =>
      val dir = tmp.toString
      IndexStore.writePsiReference(refBuckets, thresholds, dir)
      val (loadedRef, loadedTs) = IndexStore.loadPsiReference(spark, dir)
      loadedTs shouldBe thresholds
      val batch = (0L until 50L).map(i => 60L + i % 40L).toDF("v")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      rows(Drift.psiAgainstReference(loadedRef, batch,
        Drift.bucketOf(col("v"), loadedTs))) shouldBe
        rows(Drift.psiAgainstReference(refBuckets, batch,
          Drift.bucketOf(col("v"), thresholds)))
    }
  }
}
