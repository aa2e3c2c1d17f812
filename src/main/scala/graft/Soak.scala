package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, DedupCluster, Packing, PqIndex, Retrieval, Sampling, SemDedup, Similarity, TextAnalysis}
import graft.ops.{Graph, RangeJoin}

/** Opt-in large-synthetic soak (SURVEY §5.6): generates corpora 100-1000×
  * the sf0.1 tables WITH SPARK ITSELF (spark.range + deterministic column
  * exprs — no driver-side data, no testdata modification) and pushes the
  * LLM-pipeline operators through them. The point is scale evidence, not
  * correctness (the oracle owns correctness): no collect of large results,
  * timings printed per stage.
  *
  *   sbt "runMain graft.Soak [nDocs] [nVecs]"   (defaults 1M / 200k)
  */
object Soak {

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[soak] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** Rows in each partition of `df`, EMPTY partitions included (grouping
    * by `spark_partition_id()` skips them: a few-hot / rest-empty exchange
    * would read as balanced).
    */
  private[graft] def partitionRows(df: DataFrame): Seq[Long] =
    df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq

  /** Max over median partition rows; a zero median is unbounded skew. */
  private[graft] def partitionSkew(counts: Seq[Long]): Double = {
    val sorted = counts.sorted
    val (mx, med) = (sorted.last, sorted(sorted.length / 2))
    if (mx == 0) 1.0 else if (med == 0) Double.PositiveInfinity
    else mx.toDouble / med
  }

  /** Deterministic word-soup documents: ~40-120 tokens from a 10k-word
    * vocabulary; every 100th doc duplicates its predecessor (dedup bait).
    * `seedOffset` shifts the text seeds so a caller can mint documents
    * guaranteed NOVEL relative to the default corpus (seed spaces
    * disjoint by construction).
    */
  def syntheticDocs(spark: SparkSession, n: Long,
      seedOffset: Long = 0L): DataFrame = {
    val base = spark.range(n).select(col("id").as("doc_id"),
      // duplicate every 100th document's seed → exact-dup pairs
      (when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
        + seedOffset).as("seed"))
    base.select(col("doc_id"),
      concat_ws(" ",
        transform(
          sequence(lit(0), (pmod(xxhash64(col("seed")), lit(81)) + 40).cast("int")),
          i => concat(lit("w"), pmod(xxhash64(col("seed") * 1000 + i), lit(10000))))
      ).as("text"))
  }

  /** Deterministic 64-dim embeddings in [-1, 1]. */
  def syntheticVecs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id") * 64 + i), lit(2000)).cast("double") - 1000.0)
          / 1000.0).as("embedding"))

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nVecs = args.drop(1).headOption.map(_.toLong).getOrElse(200000L)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")

    println(s"[soak] docs=$nDocs vecs=$nVecs cores=${Harness.cpus}")
    val docs = syntheticDocs(spark, nDocs).cache()
    time("materialize docs")(docs.count())

    time("exact dedup")(
      Dedup.exactByHash(docs, "doc_id", "text")
        .filter(col("dup_cnt") > 1).count())
    time("minhash signatures")(
      Dedup.minHashSignature(docs, "doc_id", "text").count())
    val sig = Dedup.minHashSignature(docs, "doc_id", "text").cache()
    sig.count()
    val lshPairCount = time("lsh candidate pairs")(
      Dedup.lshCandidatePairs(sig, "doc_id",
        Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3"))).count())
    time("simhash")(
      docs.select(Dedup.simHash16(col("text"))).count())
    time("bigram jaccard (consecutive)")(
      Dedup.consecutiveNgramJaccard(docs, "doc_id", "text", 2).count())
    time("near-dup clusters (contract + CC)")(
      DedupCluster.dedupClusters(docs, "doc_id", "text")
        .filter(col("is_keeper") === 0).count())
    time("hash split + stratified sample")(
      docs.filter(Sampling.stratifiedKeep(col("doc_id"),
          Sampling.splitAssign(col("doc_id")), Map("train" -> 50)))
        .count())
    time("token-budget packing (32 groups)")(
      Packing.packShards(
        docs.withColumn("src", pmod(col("doc_id"), lit(32L))),
        "doc_id", "src", TextAnalysis.tokenCount(col("text")), 4096L)
        .agg(max("shard")).count())
    time("quality flags + masking")(
      docs.select(TextAnalysis.qualityFlags(col("text")).as("f"),
          TextAnalysis.maskCount(col("text"), Seq("w1", "w42")).as("m"))
        .groupBy("f").agg(sum("m")).count())
    time("unigram logprob (corpus LM)")(
      TextAnalysis.unigramLogProb(docs, "doc_id", "text").count())
    time("repetition metrics (gopher rules)")(
      ext.Repetition.repetitionMetrics(docs, "doc_id", "text")
        .filter(col("top_bigram_frac") > 0.2).count())
    time("pii redact + normalize")(
      docs.select(
        length(TextAnalysis.redact(col("text"), TextAnalysis.PiiRules)).as("lr"),
        length(TextAnalysis.normalizeText(col("text"))).as("ln"))
        .agg(sum("lr"), sum("ln")).count())
    time("passage chunking (32/24 windows)")(
      docs.select(col("doc_id"),
          graft.ext.Dedup.tokens(col("text")).as("a"))
        .select(col("doc_id"), col("a"),
          posexplode(sequence(lit(0L),
            ceil(size(col("a")) / lit(24.0)).cast("long") - 1)).as(Seq("p", "cid")))
        .select(col("doc_id"), col("cid"),
          length(array_join(slice(col("a"), (col("cid") * 24 + 1).cast("int"),
            lit(32)), " ")).as("l"))
        .agg(sum("l")).count())
    time("snapshot cdc (10% churn)")(
      ops.Cdc.snapshotDiff(
        docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 10 =!= 1).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" x")))
            .otherwise(col("text")).as("text")),
        "doc_id", Seq("text"))
        .groupBy("change").count().count())

    // round-6: chunk-granularity dedup — one window on the chunk text +
    // one reassembly groupBy; the incremental probe stays O(batch)
    time("chunk-level dedup (width 8)")(
      ext.Chunker.dedupChunks(docs, "doc_id", "text", 8)
        .agg(sum("n_kept")).count())
    time("incremental chunk dedup (1% batch)")({
      val batch = syntheticDocs(spark, nDocs / 100)
        .withColumn("doc_id", col("doc_id") + 3 * nDocs)
      ext.Chunker.incrementalDedupChunks(docs, batch, "doc_id", "text", 8)
        .count()
    })

    // round-6 (cont.): the frozen bigram LM — train once on the corpus
    // (count tables checkpoint), then scoring a 1% batch is an O(batch)
    // probe; calibration adds one corpus-scale self-score pass at train
    // time. The batch reuses corpus-head seeds, so its docs are
    // corpus-typical: the p10 gate must admit the large majority.
    {
      val nBatch = nDocs / 100
      val batch = syntheticDocs(spark, nBatch)
        .withColumn("doc_id", col("doc_id") + 4 * nDocs)
      val lm = time("bigram LM train (corpus pass)")({
        val m = TextAnalysis.trainBigramLm(docs, "doc_id", "text")
        m.cbg.count(); m.cu.count(); m.vocab.count()
        m
      })
      time("bigram LM score (1% batch)")({
        val n = TextAnalysis.scoreBigramLm(lm, batch, "doc_id", "text").count()
        assert(n == nBatch, s"LM scored $n of $nBatch batch docs")
        n
      })
      time("calibrated LM gate (p10, 1% batch)")({
        val admits = TextAnalysis.calibratedLmGate(docs, batch,
          "doc_id", "text").filter(col("admit") === 1).count()
        assert(admits >= nBatch * 7 / 10 && admits <= nBatch,
          s"p10 gate admitted $admits of $nBatch corpus-typical docs")
        println(s"[soak] lm gate admits $admits / $nBatch")
        admits
      })
    }

    val vecs = syntheticVecs(spark, nVecs).cache()
    time("materialize vecs")(vecs.count())
    val q = vecs.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qv"))
    time("brute-force cosine top-10")(
      Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10).count())
    time("sign-bucket ANN top-10")(
      Similarity.bucketedTopK(vecs, "embedding", "vec_id",
        vecs.filter(col("vec_id") === 0).select(col("embedding").as("qv")),
        12, 10).count())
    time("contrastive pairs (64 anchors, 8 pos / 8 neg)")({
      val lab = vecs.withColumn("label",
        pmod(col("vec_id"), lit(16L)).cast("int"))
      Similarity.contrastivePairs(lab.filter(col("vec_id") >= 64),
        lab.filter(col("vec_id") < 64),
        "vec_id", "embedding", "label", 8, 8).count()
    })
    time("mmr re-rank (shortlist 200, k=20)")(
      Similarity.mmrRerank(vecs, "embedding", "vec_id",
        Array.tabulate(64)(i => (i % 7 - 3) / 3.0),
        shortlist = 200, k = 20, lambda = 0.7).count())

    time("int8 quantization + mse")(
      vecs.select(col("vec_id"),
          posexplode(Similarity.asDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy("vec_id")
        .agg((greatest(max(abs(col("x"))), lit(1e-12)) / 127.0).as("scale"))
        .agg(avg("scale")).count())
    time("per-label centroid fit (64 labels)")(
      vecs.select(col("vec_id"), pmod(col("vec_id"), lit(64)).as("label"),
          posexplode(Similarity.asDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy("label", "pos").agg(avg("x"))
        .groupBy("label").count().count())

    time("heavy hitters (MG sketch + recount)")(
      graft.functions.FrequentItems.heavyHitters(
        docs.select(explode(Dedup.tokens(col("text"))).as("w")), "w", 0.0005)
        .count())
    time("boilerplate line dedup (4-token lines)")(
      TextAnalysis.dropFrequentLines(
        docs.select(col("doc_id"),
            Dedup.tokens(col("text")).as("a"))
          .select(col("doc_id"),
            posexplode(sequence(lit(0L),
              ceil(size(col("a")) / lit(4.0)).cast("long") - 1)).as(Seq("p", "cid")),
            col("a"))
          .select(col("doc_id"), col("cid"),
            array_join(slice(col("a"), (col("cid") * 4 + 1).cast("int"), lit(4)), " ")
              .as("line")),
        "doc_id", "cid", "line", minDf = 2)
        .agg(sum("n_dropped")).count())
    time("exact-substring dedup spans (8-grams)")(
      Dedup.repeatedSubstrSpans(docs, "doc_id", "text", l = 8)
        .agg(sum("n_removed")).count())
    time("blocked all-pairs cosine (threshold .9)")(
      Similarity.nearDupPairsBlocked(vecs, "embedding", "vec_id", 0.9,
        blocks = 64).count())
    time("banded range join (self, width 0.5/1k keys)")(
      RangeJoin.banded(
        vecs.select(col("vec_id").as("a"), (pmod(xxhash64(col("vec_id")), lit(100000)).cast("double") / 100.0).as("va")),
        vecs.select(col("vec_id").as("b"), (pmod(xxhash64(col("vec_id") + 7), lit(100000)).cast("double") / 100.0).as("vb")),
        "va", "vb", 0.005).count())

    // round-4 (continued): retrieval + structure ops
    time("bm25 top-100 (3-term query)")(
      Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("w17", "w4242", "w9001"), 100).count())
    time("inverted index (df>=1000, cap 5)")(
      Retrieval.invertedIndex(docs, "doc_id", "text",
        minDf = 1000L, postingCap = 5).count())
    time("token-id encode (32k vocab)")(
      Retrieval.encodeTokenIds(docs, "doc_id", "text", 32768)
        .agg(sum("n_oov")).count())
    time("bigram novelty (first-owner frac)")(
      TextAnalysis.ngramNovelty(docs, "doc_id", "text")
        .filter(col("novel_frac") > 0.5).count())
    time("slice KL drift (32 slices)")(
      TextAnalysis.sliceTokenKl(
        docs.withColumn("slice", pmod(col("doc_id"), lit(32L))),
        "slice", "text").count())
    time("bfs 4 hops (doc~token bipartite)")({
      val e = docs.select(col("doc_id").as("src"),
          (xxhash64(element_at(Dedup.tokens(col("text")), 1)) % 10000L
            + 100000000L).as("dst"))
      Graph.bfsHops(e.union(e.select(col("dst").as("src"),
        col("src").as("dst"))), "src", "dst", Seq(0L), 4).count()
    })
    // round-5: the q86 guardrail — the PPJoin prefix filter's candidate
    // fan-out must stay LINEAR in the corpus (candidates ≈ true dup pairs
    // + rare collisions), never quadratic. A silent filter regression
    // would pass correctness (verification re-checks pairs) but melt at
    // 100 TB; this assertion catches it at the soak shape.
    // The three exact joins share ONE GramIndex — the session shape the
    // index exists for: the 50M-gram dictionary pipeline (the dominant
    // cost of every exact join at this scale) runs once, not three times.
    val gramIdx = Dedup.gramIndex(docs, "doc_id", "text", n = 2)
    time("gram index build (shared)")(gramIdx.sets.count())
    time("jaccard join candidates (fan-out bound)")({
      val nCand = Dedup.candidates(Dedup.Jaccard, gramIdx, gramIdx,
        tauNum = 1, tauDen = 2).count()
      assert(nCand <= nDocs,
        s"prefix-filter fan-out broke: $nCand candidate pairs exceed the " +
          s"linear bound $nDocs (true dups ~${nDocs / 100})")
      println(s"[soak] jaccard candidates $nCand <= bound $nDocs " +
        s"(true dups ~${nDocs / 100})")
      nCand
    })
    // round-17: the pinned exchanges' SKEW posture. atFullWidth's explicit
    // repartition (REPARTITION_BY_NUM) opts those exchanges out of AQE's
    // OptimizeSkewedJoin, so a hot gid / hot doc_a would become an
    // unsplittable straggler task. Assert the post-pin partition-row
    // distribution stays balanced at the 1M shape: the gid probes are
    // rarest-first prefix grams (structurally small buckets) and the
    // candidate-pair dedup partitions by hash(doc_a) over ~corpus-many
    // distinct doc_a values — both should hash near-uniform. max/median
    // ≤ 4 is a loose straggler bound (uniform hashing measures ~1.0-1.1).
    time("pinned exchange skew (gid probes / doc_a pairs)")({
      def maxMed(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        val counts = partitionRows(df)
        val ratio = partitionSkew(counts)
        assert(ratio <= 4.0,
          s"pinned $label exchange skewed: max/median partition rows " +
            s"$ratio > 4 over ${counts.length} partitions — salt the pin keys")
        println(f"[soak] pinned $label partitions: n=${counts.length} " +
          f"max=${counts.max} ratio=$ratio%.2f (bound 4.0)")
      }
      maxMed(Dedup.probeRows(Dedup.Jaccard, gramIdx, 1, 2), "gid-probe")
      maxMed(Dedup.candidates(Dedup.Jaccard, gramIdx, gramIdx, 1, 2),
        "doc_a-pair")
    })

    // round-6: the incremental exact joins — probing the FROZEN 1M-doc
    // index with a 1% batch must be O(batch), and match volume must be
    // the planted twins (each batch doc regenerates a corpus text from
    // the same seed), not a quadratic fan-out. The corpus-side pipeline
    // is reused as-is (the index's checkpoints), so these stages time
    // ONLY the batch encode + probe — the ingest path's real cost.
    {
      val nBatch = nDocs / 100
      // same seeds 0..nBatch-1 as the corpus head → identical texts;
      // every-100th-dup seeds mean a handful of docs match TWO corpus
      // twins, hence the 2× upper bound.
      val batch = syntheticDocs(spark, nBatch)
        .withColumn("doc_id", col("doc_id") + nDocs)
      def boundCheck(label: String, n: Long): Long = {
        assert(n >= nBatch - nBatch / 50 && n <= 2 * nBatch,
          s"$label match count $n outside [${nBatch - nBatch / 50}, " +
            s"${2 * nBatch}] for $nBatch planted twins")
        println(s"[soak] $label matches $n (planted twins $nBatch)")
        n
      }
      time("incremental jaccard (1% batch)")(boundCheck("inc-jaccard",
        Dedup.incrementalJaccardJoin(gramIdx, batch, "doc_id", "text",
          9, 10).count()))
      time("incremental containment (1% batch)")(boundCheck("inc-containment",
        Dedup.incrementalContainmentJoin(gramIdx, batch, "doc_id", "text",
          9, 10).count()))
      time("incremental cosine (1% batch)")(boundCheck("inc-cosine",
        Dedup.incrementalCosineJoin(gramIdx, batch, "doc_id", "text",
          9, 10).count()))
    }

    // round-6: the 64-bit simhash guardrail — the whole point of the wide
    // fingerprint is that 16-bit band keys (65536 buckets) keep bucket
    // occupancy near corpus/65536, so candidate generation stays linear.
    // Assert the max bucket across all bands is within a small multiple of
    // that mean (Poisson tails + the planted dup pairs); a hot bucket here
    // means fingerprint bit bias — the 16-bit variant's Θ(n²/16) failure
    // reappearing in disguise.
    time("simhash64 band buckets + pairs")({
      val sig = Dedup.simHash64Signature(docs, "doc_id", "text")
        .select(col("doc_id").as("__id"), col("sh")).localCheckpoint()
      val maxBucket = Dedup.hammingBandKeys(sig, 64, 3)
        .groupBy("band", "bk").count()
        .agg(max("count")).head().getLong(0)
      val bound = math.max(64L, 32L * nDocs / 65536L)
      assert(maxBucket <= bound,
        s"simhash64 band bucket $maxBucket exceeds $bound (~32× the " +
          s"uniform mean ${nDocs / 65536L}) — fingerprint bits are biased")
      println(s"[soak] simhash64 max band bucket $maxBucket <= bound $bound")
      // pairs at radius 3: planted exact dups (every 100th doc) must all
      // surface; volume must stay linear in the corpus
      val nPairs = Dedup.simHash64NearDupPairs(docs, "doc_id", "text", 3).count()
      assert(nPairs >= nDocs / 100 && nPairs <= 2 * nDocs,
        s"simhash64 pair count $nPairs outside [${nDocs / 100}, ${2 * nDocs}]")
      println(s"[soak] simhash64 pairs $nPairs (planted dups ${nDocs / 100})")
      nPairs
    })

    // round-5 widening: the weighted/asymmetric exact joins and the JL
    // sketch at soak scale.
    time("cosine join (tf bigrams, tau .9)")(
      Dedup.cosineSimilarityJoin(gramIdx, tauNum = 9, tauDen = 10).count())
    time("containment join (bigrams, tau .9)")(
      Dedup.containmentJoin(gramIdx, tauNum = 9, tauDen = 10).count())
    time("random projection (64 -> 16 dims)")(
      Similarity.randomProject(vecs, "embedding", "vec_id", 16)
        .agg(sum("value")).count())

    // round-10: SRP embedding fingerprints — the vector-space simhash.
    // A dup-planted clone of the vec corpus (every 100th vector re-derives
    // from its predecessor's seed → exact-copy pairs at Hamming 0) must
    // surface all planted pairs at radius 3 with linear pair volume, and
    // the 16-bit band buckets must hold the same 32×-mean occupancy bound
    // as simhash64 (fingerprint-bias canary). The incremental probe then
    // clones the corpus head as a 1% batch: every batch vector has an
    // identical corpus twin, and the probe must stay O(batch).
    val srpSig = time("srp fingerprints (dup-planted vecs)")({
      val dv = spark.range(nVecs).select(col("id").as("vec_id"),
        when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
          .as("seed"))
        .select(col("vec_id"), transform(sequence(lit(0), lit(63)),
          i => (pmod(xxhash64(col("seed") * 64 + i), lit(2000))
            .cast("double") - 1000.0) / 1000.0).as("embedding"))
      val s = Similarity.srpSignature(dv, "embedding", "vec_id")
        .localCheckpoint()
      s.count()
      s
    })
    time("srp band buckets + pairs (radius 3)")({
      val sigR = srpSig.select(col("vec_id").as("__id"), col("sh"))
      val maxBucket = Dedup.hammingBandKeys(sigR, 64, 3)
        .groupBy("band", "bk").count()
        .agg(max("count")).head().getLong(0)
      val bound = math.max(64L, 32L * nVecs / 65536L)
      assert(maxBucket <= bound,
        s"srp band bucket $maxBucket exceeds $bound (~32× the uniform " +
          s"mean ${nVecs / 65536L}) — fingerprint bits are biased")
      println(s"[soak] srp max band bucket $maxBucket <= bound $bound")
      val nPairs = Dedup.hammingNearDupPairs(sigR, 64, 3).count()
      assert(nPairs >= nVecs / 100 && nPairs <= 2 * nVecs,
        s"srp pair count $nPairs outside [${nVecs / 100}, ${2 * nVecs}]")
      println(s"[soak] srp pairs $nPairs (planted dups ${nVecs / 100})")
      nPairs
    })
    time("incremental srp (1% batch)")({
      val nBatch = nVecs / 100
      val batch = spark.range(nBatch).select(col("id").as("vec_id"),
        when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
          .as("seed"))
        .select((col("vec_id") + nVecs).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            i => (pmod(xxhash64(col("seed") * 64 + i), lit(2000))
              .cast("double") - 1000.0) / 1000.0).as("embedding"))
      val n = Similarity.incrementalSrpPairs(srpSig, batch, "embedding",
        "vec_id", 3).count()
      assert(n >= nBatch && n <= 2 * nBatch,
        s"incremental srp match count $n outside [$nBatch, ${2 * nBatch}] " +
          s"for $nBatch planted twins")
      println(s"[soak] incremental srp matches $n (planted twins $nBatch)")
      n
    })

    // round-6 (cont.): incremental SemDeDup — the corpus assignment is the
    // one-off build (persistable); the batch probe compares each arriving
    // vector only with its cluster's corpus members, O(batch · n/k). The
    // batch clones the corpus head with new ids, so every batch vector has
    // a cos=1 corpus twin in its own cluster: dropped count must be
    // exactly the batch size (random 64-dim vectors never reach τ=0.9).
    {
      val nBatch = nVecs / 100
      val cents = vecs.filter(col("vec_id") < 256)
        .select(col("vec_id").as("cid"),
          Similarity.asDouble(col("embedding")).as("cv"))
      val corpusAssigned = time("semdedup corpus assign (k=256)")({
        val a = SemDedup.assign(vecs, "embedding", "vec_id", cents)
          .localCheckpoint()
        a.count(); a
      })
      time("incremental semdedup (1% batch)")({
        val batch = syntheticVecs(spark, nBatch)
          .withColumn("vec_id", col("vec_id") + 2 * nVecs)
        val dropped = SemDedup.incrementalDropList(corpusAssigned, batch,
          "embedding", "vec_id", cents, 0.9).count()
        assert(dropped == nBatch,
          s"incremental semdedup dropped $dropped of $nBatch planted twins")
        dropped
      })
    }

    time("pq build + adc search (m=8, k=10)")({
      val model = PqIndex.build(vecs, "embedding", "vec_id",
        m = 8, ksub = 16, maxIter = 3)
      PqIndex.search(model,
        Array.tabulate(64)(i => (i % 7 - 3) / 3.0), "vec_id", 10).count()
    })

    // round-6: incremental IVF-PQ ingest — encoding a 1% batch against the
    // frozen model must be O(batch): one broadcast-UDF pass, no k-means.
    // (The build above it is the one-off cost a real deployment amortizes.)
    val ivfpqModel = time("ivfpq build (nlist=16, m=8)")(
      ext.IvfPq.build(vecs, "embedding", "vec_id",
        nlist = 16, m = 8, ksub = 16, maxIter = 3))
    time("ivfpq encodeBatch (1% ingest)")({
      val batch = syntheticVecs(spark, nVecs / 100)
        .withColumn("vec_id", col("vec_id") + nVecs)
      ext.IvfPq.encodeBatch(ivfpqModel, batch, "embedding", "vec_id")
        .encoded.filter(col("vec_id") >= nVecs).count()
    })
    // round-6: persisted-index probe latency — the stored layouts must
    // make probes partition-pruned reads, so probe time is O(read
    // partitions), decoupled from index size.
    val idxDir = java.nio.file.Files.createTempDirectory("soak_idx_").toString
    time("ivfpq code store write (by cell)")({
      ext.IndexStore.writeIvfPqCodes(ivfpqModel, s"$idxDir/ivfpq"); 1L
    })
    time("ivfpq probe from store (nprobe=4)")({
      val loaded = ext.IndexStore.loadIvfPqCodes(ivfpqModel, spark,
        s"$idxDir/ivfpq")
      ext.IvfPq.search(loaded, vecs, "embedding", "vec_id",
        Array.tabulate(64)(i => (i % 7 - 3) / 3.0), nprobe = 4, k = 10).count()
    })
    // round-6: gram-index persistence — the write is the one-off corpus
    // cost; the loaded probe must stay O(batch) with zero pipeline rebuild
    time("gram index store write")({
      ext.IndexStore.writeGramIndex(gramIdx, s"$idxDir/gram"); 1L
    })
    time("gram index probe from store (1% batch)")({
      val loaded = ext.IndexStore.loadGramIndex(spark, s"$idxDir/gram")
      val batch = syntheticDocs(spark, nDocs / 100)
        .withColumn("doc_id", col("doc_id") + 2 * nDocs)
      Dedup.incrementalJaccardJoin(loaded, batch, "doc_id", "text",
        9, 10).count()
    })
    time("postings store write (64 buckets)")({
      // minDf scales with the corpus (1000 at the 1M default) so reduced
      // soaks keep a non-empty index — mean gram df here is ~nDocs/125
      ext.IndexStore.writePostings(
        Retrieval.invertedIndex(docs, "doc_id", "text",
          minDf = math.max(1L, nDocs / 1000L), postingCap = 5),
        s"$idxDir/postings")
      1L
    })
    time("postings probe from store (3 terms)")(
      ext.IndexStore.readPostings(spark, s"$idxDir/postings",
        Seq("w17", "w4242", "w9001")).count())

    // round-9: sequence packing — the two-phase cumsum must tile the token
    // stream exactly (last doc's end == corpus token total); the phase-1
    // single-partition window sees nBuckets rows by construction, so
    // wall-time here is the linear groupBy, never a corpus-wide window.
    time("sequence packing (ctx 2048)")({
      val r = Packing.packSequences(docs, "doc_id", "text", 2048L)
        .agg(max(col("tok_offset") + col("n_tokens")).as("mx"),
          sum(col("n_tokens")).as("tot"), count(lit(1)).as("n")).head()
      assert(r.getAs[Long]("n") == nDocs,
        s"packSequences emitted ${r.getAs[Long]("n")} of $nDocs docs")
      assert(r.getAs[Long]("mx") == r.getAs[Long]("tot"),
        s"cumsum is not a perfect tiling: max end ${r.getAs[Long]("mx")}" +
          s" != token total ${r.getAs[Long]("tot")}")
      r
    })
    // round-9: leakage audit — the combinatorial path never materializes a
    // pair, but its cell counts must still SUM to the DISTINCT pairs the
    // materializing LSH path finds over the same bands: C(c,2) + cross
    // products + inclusion-exclusion ≡ distinct pairs, at 1M docs.
    // (lshPairCount above carries band multiplicity — a pair colliding in
    // both bands counts twice there, once here.)
    time("split leakage audit (hash split)")({
      val distinctPairs = Dedup.lshCandidatePairs(sig, "doc_id",
          Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
        .select("doc_a", "doc_b").distinct().count()
      assert(distinctPairs <= lshPairCount, "band multiplicity sanity")
      val cells = DedupCluster.splitLeakageAudit(docs, "doc_id", "text",
        Sampling.splitAssign(col("doc_id"))).collect()
      val tot = cells.map(_.getAs[Long]("n_pairs")).sum
      assert(tot == distinctPairs,
        s"audit cells sum to $tot, LSH distinct pairs are $distinctPairs")
      cells.length
    })
    // round-9: epoch mixing is pure map-side — the plan must carry NO
    // exchange (the 100-TB property: output is recipe-sized, shuffle-free).
    time("epoch mix (recipe over 4 strata)")({
      val mixed = Sampling.epochMix(
        docs.withColumn("src", pmod(col("doc_id"), lit(4L)).cast("string")),
        "doc_id", "src", Map("0" -> 2.5, "1" -> 0.3, "2" -> 1.0))
      val plan = mixed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"epochMix plan shuffles:\n$plan")
      val n = mixed.count()
      val expect = (nDocs / 4.0 * (2.5 + 0.3 + 1.0)).toLong
      assert(math.abs(n - expect) <= expect / 20,
        s"epoch mix emitted $n rows, recipe expects ~$expect")
      n
    })
    // round-9: decontamination by excision at corpus scale — a 1k-doc
    // benchmark broadcasts; corpus docs sharing its seeds (the first 1k,
    // plus their planted dups) lose spans, everything else passes through.
    time("decontaminate excise (1k benchmark)")({
      val bench = syntheticDocs(spark, 1000L)
        .withColumn("doc_id", col("doc_id") + 5 * nDocs)
      val out = Dedup.decontaminateExcise(docs, bench, "doc_id", "text", 8)
      val r = out.agg(count(lit(1)).as("n"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("hit")).head()
      assert(r.getAs[Long]("n") == nDocs,
        s"excision emitted ${r.getAs[Long]("n")} of $nDocs docs")
      assert(r.getAs[Long]("hit") >= 1000,
        s"only ${r.getAs[Long]("hit")} docs hit — benchmark seeds overlap 1k+")
      r
    })
    // round-10: edit-distance join (PassJoin) over 24-char prefixes at
    // k=2 — segment equi-join + verify, never all-pairs; the planted
    // every-100th exact dups guarantee >= nDocs/100 dist-0 pairs.
    val edStrings = docs.select(col("doc_id"),
      substring(col("text"), 1, 24).as("s")).cache()
    time("edit-distance join (24-char, k=2)")({
      val n = ext.Fuzzy.editDistanceJoin(edStrings, "doc_id", "s", 2).count()
      assert(n >= nDocs / 100,
        s"edit join found $n pairs, planted dups alone are ${nDocs / 100}")
      n
    })
    time("incremental edit distance (1% batch)")({
      val batch = syntheticDocs(spark, nDocs / 100)
        .withColumn("doc_id", col("doc_id") + 6 * nDocs)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("s"))
      val idx = ext.Fuzzy.segmentIndex(edStrings, "doc_id", "s", 2)
      val n = ext.Fuzzy.incrementalEditDistanceJoin(idx, edStrings, batch,
        "doc_id", "s", 2).count()
      // batch seeds reuse the corpus head: every batch doc has its seed
      // twin (and that twin's planted dup) in the corpus at dist 0
      assert(n >= nDocs / 100,
        s"incremental edit join found $n matches for ${nDocs / 100} batch docs")
      n
    })
    edStrings.unpersist()

    // round-10b: the perceptual-hash image family — one stub decode +
    // aHash pass over every payload, then the same Hamming band machinery
    // as simhash64/SRP. The planted every-100th exact dups share payload
    // bytes → identical hashes → guaranteed dist-0 pairs.
    val media = ext.Multimodal.asMedia(docs, "doc_id", "text")
    val phSig = time("phash signatures (decode+hash)")({
      val s = ext.Multimodal.frameHashes(media, Seq(0)).toDF().cache()
      s.count()
      s
    })
    time("phash band pairs (radius 4)")({
      val sigIn = phSig.select(col("media_id").as("__id"), col("ph").as("sh"))
      val bb = Dedup.hammingBandKeys(sigIn, 64, 4)
        .groupBy("band", "bk").count()
      val maxBucket = bb.agg(max("count")).head().getLong(0)
      // 5 bands of ~13 bits → ~8k buckets/band; identical planted-dup
      // hashes stack one bucket with nDocs/100, the honest floor
      assert(maxBucket <= math.max(nDocs / 50, 64L),
        s"phash band bucket $maxBucket exceeds the planted-dup bound")
      val n = ext.Multimodal.phashNearDupPairs(media, Seq(0), 4).count()
      assert(n >= nDocs / 100 - nDocs / 10000,
        s"phash pairs $n below the planted-dup floor ${nDocs / 100}")
      n
    })
    time("incremental phash (1% batch)")({
      val batch = ext.Multimodal.asMedia(
        syntheticDocs(spark, nDocs / 100)
          .withColumn("doc_id", col("doc_id") + 7 * nDocs), "doc_id", "text")
      val n = ext.Multimodal.incrementalPhashPairs(phSig, batch, 4).count()
      // every batch doc's seed twin (and its planted dup) sit in the
      // corpus at dist 0; O(batch) probe, bounded fan-out
      assert(n >= nDocs / 100 && n <= 8 * nDocs / 100,
        s"incremental phash matches $n outside the planted band")
      n
    })
    phSig.unpersist()

    // round-11: the audio-fingerprint family THROUGH REAL WAV containers —
    // every payload is serialized into an actual RIFF byte stream, parsed
    // back by the chunk-walking decoder, and energy-delta fingerprinted;
    // the 1% batch re-encodes corpus streams at half amplitude (sign-of-
    // delta is scale-invariant, truncation flips near-ties only), so each
    // batch stream MUST land on its original within radius 6.
    {
      import spark.implicits._
      def wavRows(ids: org.apache.spark.sql.Dataset[java.lang.Long],
          half: Boolean) = ids.map { idBoxed =>
        val id = idBoxed.longValue()
        val samples = Array.tabulate(65 * 48) { j =>
          val raw = (((id + 1) * 2654435761L +
            j.toLong * (40503L + 2L * id)) % 65536L).toInt - 32768
          if (half) raw / 2 else raw
        }
        ext.Multimodal.MediaRow(id, ext.Containers.wavBytes(samples))
      }
      val nAud = math.max(nVecs, 10000L)
      val corpusIds = spark.range(nAud).select(col("id").as[java.lang.Long])
      val afp = time(s"audio fp (real WAV encode+parse, $nAud streams)")({
        val f = ext.Multimodal.audioFingerprint(
          wavRows(corpusIds, half = false), window = 48,
          decode = ext.Containers.decodeWav).cache()
        f.count()
        f
      })
      time("incremental audio fp (1% half-amplitude batch)")({
        val batchIds = spark.range(nAud / 100)
          .select((col("id") * 100).as[java.lang.Long]) // every 100th stream
        val pairs = ext.Multimodal.incrementalAudioPairs(afp,
          wavRows(batchIds, half = true), window = 48, maxDist = 6,
          decode = ext.Containers.decodeWav)
        val selfHits = pairs.filter(col("doc_a") === col("doc_b")).count()
        // truncation flips near-tie windows only — the large majority of
        // re-encodes must land on their original within the radius
        assert(selfHits >= nAud / 100 * 9 / 10,
          s"audio fp: only $selfHits of ${nAud / 100} re-encodes found their original")
        selfHits
      })
      afp.unpersist()
    }

    // round-10b: graph kernels over the signature-CONTRACTED LSH pair
    // graph (q163/q165's discipline: exact-signature duplicate groups
    // collapse to min-id representatives BEFORE any cubic-risk kernel —
    // an uncontracted g-clique costs Θ(g³) triangles).
    val lshEdges = {
      val reps = sig.groupBy("mh0", "mh1", "mh2", "mh3")
        .agg(min(col("doc_id")).as("doc_id"))
      Dedup.lshCandidatePairs(reps, "doc_id",
        Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
        .select(col("doc_a"), col("doc_b")).cache()
    }
    time("triangle stats (lsh pair graph)")(
      Graph.triangleStats(lshEdges, "doc_a", "doc_b").count())
    time("3-core (lsh pair graph)")(
      Graph.kCore(lshEdges, "doc_a", "doc_b", 3).count())
    lshEdges.unpersist()

    // round-10b: the full Gopher dup-ngram profile — 5 gram widths from
    // ONE token explode and one window pass; gram volume is ~5× the
    // token stream, linear in the corpus.
    time("dup-ngram profile (n=2..6)")(
      ext.Repetition.dupNgramProfile(docs, "doc_id", "text",
        Seq(2, 3, 4, 5, 6)).count())

    // round-10b: time-series regularization at scale — synthetic ragged
    // observations (nDocs events, nDocs/100 keys, 30-day span) onto a
    // 6-hour grid; grid volume is keys × span/step, a config bound, and
    // the LOCF window is partition-local.
    val sevents = spark.range(nDocs).select(
      (col("id") % (nDocs / 100)).as("user_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id")), lit(2592000000000L))).as("ts"),
      (pmod(xxhash64(col("id") + 1), lit(1000)).cast("double") / 100.0)
        .as("value"))
    time("locf resample (6h grid)")(
      ops.Timeseries.resampleLocf(sevents, "user_id", "ts", "value",
        21600000000L).count())
    time("gap report (6h grid)")(
      ops.Timeseries.gapReport(sevents, "user_id", "ts", 21600000000L)
        .count())

    // round-10c: sorted-neighborhood linkage at 1M strings — the
    // two-phase rank (never a one-partition window) + the banded
    // rank-cell join give exactly n·(w−1) candidates; the planted
    // every-100th dups guarantee dist-0 pairs (duplicate keys rank
    // adjacently by construction).
    time("sorted-neighborhood join (w=8, k=2)")({
      val sn = ext.Fuzzy.sortedNeighborhoodJoin(
        docs.select(col("doc_id"), substring(col("text"), 1, 24).as("s")),
        "doc_id", "s", window = 8, k = 2)
      val n = sn.count()
      assert(n >= nDocs / 100,
        s"SN join found $n pairs; adjacent planted dups alone are ${nDocs / 100}")
      n
    })

    // round-10c: covariance sketch over the vector corpus — the d²·n/2
    // product fan-out is the documented cost shape; the merge path then
    // prices a 1% ingest at O(batch) against the frozen sketch.
    val covSums = time("covariance sums (64 dims)")({
      val sdf = ext.Similarity.covarianceSums(vecs, "embedding", "vec_id")
        .cache()
      sdf.count()
      sdf
    })
    time("incremental covariance (1% batch, merge ≡ recompute)")({
      val batch = syntheticVecs(spark, nVecs / 100)
        .withColumn("vec_id", col("vec_id") + 8 * nVecs)
        .localCheckpoint() // feeds the batch sketch AND the union recompute
      val merged = ext.Similarity.finalizeCovariance(
        ext.Similarity.mergeCovarianceSums(covSums,
          ext.Similarity.covarianceSums(batch, "embedding", "vec_id")))
      // mergeability asserted WHERE n is large enough to stress the
      // integer sums' 2^63 headroom: the merged sketch must finalize to
      // the BIT-identical matrix a full corpus+batch recompute yields
      // (integer sums are order-free; the finalize expression is
      // fixed-shape — any divergence is overflow or a broken merge).
      val full = ext.Similarity.finalizeCovariance(
        ext.Similarity.covarianceSums(
          vecs.unionByName(batch), "embedding", "vec_id"))
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toMap
      val m = cells(merged)
      val f = cells(full)
      assert(m == f,
        s"incremental covariance: merged finalize != full recompute " +
          s"(${m.size} vs ${f.size} cells, " +
          s"${m.count { case (k, v) => f.get(k).contains(v) }} equal)")
      m.size
    })
    covSums.unpersist()

    // round-12: quantized-ECDF drift at 1M CONTINUOUS values — the
    // operator form of the "quantize upstream" caveat, proven at soak
    // shape: the corpus table is GRID-bounded (≤ range/step cells, here
    // 2000, forever — a raw ecdfTable would carry ~1M distinct doubles),
    // and the 1% probe against the frozen table is bit-identical to the
    // full two-sample recompute over combined quantized rows. The probe
    // pays O(batch + |grid|); only the recompute (the checker, not the
    // monitor) re-touches the corpus.
    val contVals = spark.range(nDocs).select(
      (pmod(xxhash64(col("id")), lit(100000)).cast("double") / 1000.0)
        .as("value")).cache()
    val step = 0.05
    val ecdfQ = time("quantized ecdf table (step 0.05)")({
      val q = ops.Drift.quantizedEcdfTable(contVals, "value", step)
        .localCheckpoint()
      val cells = q.count()
      assert(cells <= (100.0 / step).toLong + 1,
        s"quantized ecdf: $cells cells exceeds the grid bound")
      println(s"[soak] quantized ecdf cells $cells (grid bound ${(100.0 / step).toLong + 1})")
      q
    })
    time("incremental KS+W1 drift (1% batch)")({
      val batch = spark.range(nDocs / 100).select(
        (pmod(xxhash64(col("id") + 7 * nDocs), lit(100000)).cast("double")
          / 1000.0 + 2.5).as("value")) // shifted arrivals
        .localCheckpoint()
      val ks = ops.Drift.incrementalKsQuantized(ecdfQ, batch, "value",
        step).head()
      val w1 = ops.Drift.incrementalWassersteinQuantized(ecdfQ, batch,
        "value", step).head()
      // probe ≡ recompute, bit for bit (the incremental-family contract)
      val combined = contVals.withColumn("a", lit(true))
        .unionByName(batch.withColumn("a", lit(false)))
        .select(ops.Drift.quantize(col("value"), step).as("value"), col("a"))
      val dks = ops.Drift.ksTest(combined, "value", col("a")).head()
      val dw1 = ops.Drift.wasserstein1(combined, "value", col("a")).head()
      assert(ks.getAs[Double]("d_stat") == dks.getAs[Double]("d_stat") &&
        ks.getAs[Double]("at_value") == dks.getAs[Double]("at_value"),
        s"incremental KS probe != recompute: $ks vs $dks")
      assert(w1.getAs[Double]("w1") == dw1.getAs[Double]("w1"),
        s"incremental W1 probe != recompute: $w1 vs $dw1")
      println(f"[soak] drift d=${ks.getAs[Double]("d_stat")}%.4f " +
        f"w1=${w1.getAs[Double]("w1")}%.4f (probe == recompute)")
    })
    contVals.unpersist()

    // round-12: MaxSim late-interaction at soak scale — the q194/q200
    // work-bound argument, asserted: the per-term dot table is DISTINCT
    // CORPUS TOKENS × query terms (vocab-bounded — the synthetic vocab
    // is 10k words), never docs × terms, so retrieval work is
    // O(vocab·terms + doc-token pairs), not corpus² — the same fan-out
    // guard shape as the PPJoin candidate bound.
    time("maxsim route + topk (3 topics)")({
      val topics = Map(
        "alpha" -> Seq("w11", "w222", "w3333"),
        "beta" -> Seq("w44", "w555"),
        "gamma" -> Seq("w6666", "w77"))
      val nTerms = topics.valuesIterator.map(_.size).sum
      val distinctToks = docs.select(
        explode(split(col("text"), " ")).as("w")).distinct().count()
      assert(distinctToks <= 10000L,
        s"maxsim: $distinctToks distinct tokens exceeds the 10k vocab")
      val dotRows = distinctToks * nTerms
      assert(dotRows <= 10000L * nTerms,
        s"maxsim: dot table $dotRows rows exceeds vocab x terms bound")
      println(s"[soak] maxsim dot table $dotRows rows " +
        s"(= $distinctToks tokens x $nTerms terms; docs=$nDocs)")
      val routed = Retrieval.maxSimRoute(docs, "doc_id", "text", topics)
      assert(routed.count() == nDocs,
        "maxsim route must assign every document exactly once")
      val top = Retrieval.maxSimTopK(docs, "doc_id", "text",
        topics("alpha"), k = 10)
      assert(top.count() == 10, "maxsim topk must return k rows")
    })

    // round-12: training-prep example generators at 1M docs — span
    // corruption (the only generator with per-doc reassembly state),
    // FIM (pure projection — the plan IS the scale argument), and the
    // packed-window segment table (one running-sum shuffle per group +
    // bounded fan-out). Assertions are the row-conservation contracts.
    time("span corruption (1M example pairs)")({
      val sc = ext.Packing.spanCorrupt(docs, "doc_id", "text")
      assert(sc.count() == nDocs,
        "spanCorrupt must emit exactly one example per document")
    })
    time("fim transform (1M example pairs)")({
      val f = ext.Packing.fimTransform(docs, "doc_id", "text")
      val r = f.agg(count(lit(1)),
        sum(col("n_prefix") + col("n_middle") + col("n_suffix"))).head()
      assert(r.getLong(0) == nDocs, "fim must emit one row per doc")
      val totTok = docs.select(sum(size(split(col("text"), " "))))
        .head().getLong(0)
      assert(r.getLong(1) == totTok,
        s"fim segment lengths ${r.getLong(1)} != corpus tokens $totTok")
    })
    time("window segments (2048-token windows, 64 groups)")({
      val seg = ext.Packing.windowSegments(
        docs.select(col("doc_id"), (col("doc_id") % 64).as("grp"),
          size(split(col("text"), " ")).as("nt")),
        "doc_id", "grp", col("nt"), 2048L)
      val r = seg.agg(sum(col("end_tok") - col("start_tok")),
        sum(col("is_doc_start").cast("long")),
        sum(col("is_doc_end").cast("long"))).head()
      val totTok = docs.select(sum(size(split(col("text"), " "))))
        .head().getLong(0)
      assert(r.getLong(0) == totTok,
        s"segment spans ${r.getLong(0)} != corpus tokens $totTok")
      assert(r.getLong(1) == nDocs && r.getLong(2) == nDocs,
        "doc boundaries must fire exactly once per document")
    })

    // round-12: bottom-k (KMV) sketch merge law at 1M docs — the
    // deterministic distinct sketch (q213/q214, ST25) at soak shape.
    // The frozen corpus state is ≤ k rows PER GROUP forever; the 1%
    // batch probe pays its own tokens plus an O(k·groups) merge, never
    // re-reading the corpus; and unlike HLL the merged sketch must be
    // BIT-EQUAL to a cold rebuild over the full history — asserted,
    // with the KMV estimate checked against the exact distinct count.
    time("bottom-k sketch merge (k=256, 16 groups)")({
      val k = 256
      val grpDocs = docs.select(col("doc_id"),
        (col("doc_id") % 16).cast("string").as("grp"), col("text"))
      def toks(df: DataFrame) =
        df.select(col("grp"), explode(split(col("text"), " ")).as("tok"))
      val corpusSk = ops.Sketches.bottomK(
        toks(grpDocs.filter(col("doc_id") % 100 =!= 0)), "grp", "tok", k)
        .localCheckpoint()
      val skRows = corpusSk.count()
      assert(skRows <= 16L * k,
        s"bottom-k: corpus sketch $skRows rows exceeds k x groups")
      val batchSk = ops.Sketches.bottomK(
        toks(grpDocs.filter(col("doc_id") % 100 === 0)), "grp", "tok", k)
      val merged = ops.Sketches.merge(corpusSk, batchSk, "grp", k)
        .localCheckpoint()
      val full = ops.Sketches.bottomK(toks(grpDocs), "grp", "tok", k)
      assert(merged.exceptAll(full).count() == 0 &&
        full.exceptAll(merged).count() == 0,
        "bottom-k: streamed merge != cold rebuild (merge law broken)")
      val exact = toks(grpDocs).distinct()
        .groupBy("grp").agg(count(lit(1)).as("exact"))
      val worst = ops.Sketches.distinctEstimate(merged, "grp", k)
        .join(exact, "grp")
        .select(max(abs(col("est_distinct") - col("exact")) /
          col("exact"))).head().getDouble(0)
      assert(worst < 0.25,
        f"bottom-k: KMV estimate off by $worst%.3f (> 3 sigma for k=$k)")
      println(f"[soak] bottom-k merge == rebuild; worst est err $worst%.3f")
    })

    // round-12: shard manifest at 1M docs — one scan + one group-by;
    // the order-free checksum must be invariant under a repartition
    // (parallel shard writers have no stable row order).
    time("shard manifest (32 shards)")({
      val m1 = ops.Manifest.shardManifest(docs, "doc_id", "text", 32)
        .localCheckpoint()
      assert(m1.agg(sum("n_docs")).head().getLong(0) == nDocs,
        "manifest rows must sum to the corpus")
      // checkpoint: m2 feeds BOTH exceptAll sides (multi-use-subplan rule)
      val m2 = ops.Manifest.shardManifest(
        docs.repartition(97), "doc_id", "text", 32)
        .localCheckpoint()
      assert(m1.exceptAll(m2).count() == 0 &&
        m2.exceptAll(m1).count() == 0,
        "manifest must be row-order invariant")
    })

    // round-13: incremental manifest — the additive merge must equal a
    // cold recompute EXACTLY at 1M docs (q217's law at soak shape): an
    // appended 1% batch costs O(batch + shards), never a corpus re-read.
    time("manifest merge (1% append)")({
      val full = ops.Manifest.shardManifest(docs, "doc_id", "text", 32)
        .localCheckpoint()
      val merged = ops.Manifest.mergeManifests(
        ops.Manifest.shardManifest(
          docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text", 32),
        ops.Manifest.shardManifest(
          docs.filter(col("doc_id") % 100 === 0), "doc_id", "text", 32))
        .localCheckpoint()
      assert(merged.exceptAll(full).count() == 0 &&
        full.exceptAll(merged).count() == 0,
        "manifest merge != cold recompute (additive law broken)")
    })

    // round-13: retrieval-expansion family at 1M docs — PRF (RM3) and
    // DPR hard-negative mining. The scale guard is the scored-relation
    // bound: both ops restrict the (id, token) stream to the broadcast
    // term list BEFORE any aggregate, so the per-term work is the
    // MATCHING rows only — asserted against an independent count —
    // and the outputs are k- and (topics × band)-bounded.
    time("prf + hard negatives (1M docs)")({
      val seeds = Seq("w11", "w222")
      val prf = Retrieval.prfExpandedBm25(docs, "doc_id", "text", seeds,
        kFb = 8, mExp = 8, k = 20)
      assert(prf.count() == 20, "prf must return k ranked docs")
      val topics = Map("alpha" -> Seq("w11", "w222"),
        "beta" -> Seq("w44", "w555"))
      val hn = Retrieval.hardNegatives(docs, "doc_id", "text", topics,
        pPos = 5, kNeg = 20)
      val perTopic = hn.groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perTopic.values.forall(_ == 20L),
        s"hard negatives must fill the kNeg band per topic: $perTopic")
      val allTerms = (seeds ++ topics.values.flatten).distinct
      val matching = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin(allTerms: _*)).count()
      val corpusToks = docs.select(sum(size(split(col("text"), " "))))
        .head().getLong(0)
      assert(matching < corpusToks / 100,
        s"term-restricted relation $matching rows should be ~vocab-share " +
          s"of $corpusToks corpus tokens — the pre-aggregate filter is " +
          "what keeps BM25 scoring off the full token stream")
      println(s"[soak] retrieval scored relation $matching rows " +
        s"(corpus tokens $corpusToks)")
    })

    // round-13: the production-width KMV sketch at HIGH cardinality —
    // 20M distinct ids in ONE group, where the 1e8-space estimator's
    // collision bias is structural (expected distinct HASHES at m=2e7:
    // 1e8·(1−e^−0.2) ≈ 1.81e7, a ~9% under-count) while the 2^63 space
    // stays unbiased within KMV noise. Deterministic md5 hashes → the
    // measured errors are fixed constants; 3σ = 3/√k.
    time("bottom-k 2^63 space at 20M distinct")({
      val k = 1024
      val m = 20000000L
      val ids = spark.range(m).select(lit("g").as("grp"),
        concat(lit("u"), col("id")).as("e"))
      val est63 = ops.Sketches.distinctEstimate64(
        ops.Sketches.bottomK64(ids, "grp", "e", k), "grp", k)
        .head().getAs[Double]("est_distinct")
      val est8 = ops.Sketches.distinctEstimate(
        ops.Sketches.bottomK(ids, "grp", "e", k), "grp", k)
        .head().getAs[Double]("est_distinct")
      val sigma = 1.0 / math.sqrt(k.toDouble)
      val err63 = math.abs(est63 - m) / m
      val bias8 = (m - est8) / m
      println(f"[soak] kmv at m=2e7: est63=$est63%.0f (err $err63%.4f) " +
        f"est8=$est8%.0f (bias $bias8%.4f) sigma=$sigma%.4f")
      assert(err63 < 3 * sigma,
        f"2^63-space KMV err $err63%.4f exceeds 3 sigma ($sigma%.4f x 3)")
      assert(bias8 > 3 * sigma,
        f"1e8-space bias $bias8%.4f should be visible (> 3 sigma) at 2e7 " +
          "distinct — if not, the hash space assumption changed")
      assert(err63 < bias8,
        "the 2^63 space must beat the 1e8 space at this cardinality")
    })

    // round-13: the LINEAR sketch family (CMS / AMS / feature hashing,
    // q222-q224, ST28) — merge ≡ cold rebuild must hold BIT-FOR-BIT
    // (element-wise integer addition, the strongest mergeability class)
    // and state stays ≤ depth·width (or dim) rows per group. Run on a
    // 200k-doc subset: the law is row-count-independent, and each salted
    // hash row costs one md5 per token on the portable-hash discipline.
    time("linear sketches merge law (CMS/AMS/FH)")({
      val sub = docs.filter(col("doc_id") % 5 === 0)
      val grpDocs = sub.select(col("doc_id"),
        (col("doc_id") % 16).cast("string").as("grp"), col("text"))
      def toks(df: DataFrame) =
        df.select(col("grp"), explode(split(col("text"), " ")).as("tok"))
      val depth = 3; val width = 256
      val corpus = toks(grpDocs.filter(col("doc_id") % 100 =!= 0))
      val batch = toks(grpDocs.filter(col("doc_id") % 100 === 0))
      val full = toks(grpDocs)
      val cmsMerged = ops.LinearSketches.cmsMerge(
        ops.LinearSketches.cmsSketch(corpus, "grp", "tok", depth, width),
        ops.LinearSketches.cmsSketch(batch, "grp", "tok", depth, width),
        "grp").localCheckpoint()
      val cmsFull = ops.LinearSketches.cmsSketch(full, "grp", "tok",
        depth, width)
      assert(cmsMerged.exceptAll(cmsFull).count() == 0 &&
        cmsFull.exceptAll(cmsMerged).count() == 0,
        "CMS merge != cold rebuild (linear law broken)")
      assert(cmsMerged.count() <= 16L * depth * width,
        "CMS state exceeds depth x width per group")
      val amsMerged = ops.LinearSketches.amsMerge(
        ops.LinearSketches.amsSketch(corpus, "grp", "tok", depth, width),
        ops.LinearSketches.amsSketch(batch, "grp", "tok", depth, width),
        "grp").localCheckpoint()
      val amsFull = ops.LinearSketches.amsSketch(full, "grp", "tok",
        depth, width)
      assert(amsMerged.exceptAll(amsFull).count() == 0 &&
        amsFull.exceptAll(amsMerged).count() == 0,
        "AMS merge != cold rebuild (signed linear law broken)")
      // F2 estimator accuracy against the exact second moment: per-row
      // rel std ~ sqrt(2/width) = 8.8%, median of 3 rows, worst of 16
      // groups — 0.5 is a loose deterministic bound (hashes are fixed)
      val exactF2 = full.groupBy("grp", "tok").agg(count(lit(1)).as("f"))
        .groupBy("grp").agg(sum(col("f") * col("f")).as("f2"))
      val worst = ops.LinearSketches.amsF2Estimate(amsMerged, "grp", depth)
        .join(exactF2, "grp")
        .select(max(abs(col("f2_est") - col("f2")).cast("double") /
          col("f2").cast("double"))).head().getDouble(0)
      assert(worst < 0.5, f"AMS F2 worst rel err $worst%.3f exceeds bound")
      println(f"[soak] cms/ams merge == rebuild; ams f2 worst err $worst%.3f")
      // feature hashing is linear too, and the vector stays dim-bounded
      val fhMerged = ops.LinearSketches.featureHash(corpus, "grp", "tok", 1024)
        .unionByName(
          ops.LinearSketches.featureHash(batch, "grp", "tok", 1024))
        .groupBy("grp", "j").agg(sum("v").as("v")).localCheckpoint()
      val fhFull = ops.LinearSketches.featureHash(full, "grp", "tok", 1024)
      assert(fhMerged.exceptAll(fhFull).count() == 0 &&
        fhFull.exceptAll(fhMerged).count() == 0,
        "feature-hash vectors must add exactly")
      assert(fhMerged.count() <= 16L * 1024,
        "feature-hash state exceeds dim per group")
    })

    // round-13: mergeable grid quantiles at 1M values (q228) — shard
    // tables ADD to the global table (cells stay grid-bounded), and the
    // inverse-CDF probe answers in O(cells) without re-reading values.
    time("grid quantiles off merged tables")({
      val step = 0.25
      val vals = spark.range(nDocs).select(
        (pmod(xxhash64(col("id")), lit(100000)).cast("double") / 1000.0)
          .as("v")) // uniform-ish [0, 100)
      val merged = ops.Drift.mergeEcdfTables(
        ops.Drift.quantizedEcdfTable(vals.filter(col("v") < 50), "v", step),
        ops.Drift.quantizedEcdfTable(vals.filter(col("v") >= 50), "v", step))
        .localCheckpoint()
      val cells = merged.count()
      assert(cells <= (100.0 / step).toLong + 1,
        s"grid cells $cells exceed the range/step bound")
      val q = ops.Drift.quantilesFromEcdf(merged, Seq(1, 50, 99))
        .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
      assert(q(50) > 45 && q(50) < 55,
        s"p50 ${q(50)} of a uniform [0,100) sample should be near 50")
      assert(q(1) < q(50) && q(50) < q(99), "percentile ladder must be monotone")
      println(f"[soak] grid quantiles cells=$cells p50=${q(50)}%.2f")
    })

    // round-14: the GRID-FREE rank sketch at 1M values (q242) — merge of
    // two shard sketches must equal the cold rebuild BIT-FOR-BIT (the
    // value-set is {k smallest hashes}, counts are linear — the proof in
    // rankSketchMerge), state stays ≤ k rows per group forever, and the
    // self-normalized quantile read tracks the true uniform percentiles
    // with no pre-declared grid/range.
    time("rank sketch merge law + quantiles (1M)")({
      val k = 1024
      val vs = spark.range(nDocs).select(col("id"),
        (col("id") % 4).cast("string").as("g"),
        pmod(xxhash64(col("id")), lit(1000000)).cast("long").as("v"))
      val merged = ops.Sketches.rankSketchMerge(
        ops.Sketches.rankSketch(vs.filter(col("id") % 7 === 0), "g", "v", k),
        ops.Sketches.rankSketch(vs.filter(col("id") % 7 =!= 0), "g", "v", k),
        "g", k).localCheckpoint()
      val cold = ops.Sketches.rankSketch(vs, "g", "v", k)
      assert(merged.exceptAll(cold).count() == 0 &&
        cold.exceptAll(merged).count() == 0,
        "rank sketch merge != cold rebuild")
      assert(merged.count() <= 4L * k, "rank sketch state exceeds k per group")
      val q = ops.Sketches.quantilesFromRankSketch(merged, "g", Seq(50))
        .agg(min("v_q"), max("v_q")).head()
      // uniform on [0, 1e6) -> p50 near 5e5 within the O(1/sqrt(k)) band
      assert(q.getLong(0) > 400000 && q.getLong(1) < 600000,
        s"grid-free p50 off a uniform [0,1e6) sample out of band: $q")
      println(s"[soak] rank sketch p50 band [${q.getLong(0)}, ${q.getLong(1)}]")
    })

    // round-14: WARC/WET ingestion at corpus scale — 1M docs serialized
    // into 256 per-record-gzip shards (the Common Crawl layout the
    // WarcCorpus reader maps to tasks) and parsed back by the
    // record-boundary walker; parsed record/byte totals must equal the
    // corpus totals exactly. Shards are ~4k docs (the mapGroups holds
    // one shard, never the corpus), and records STREAM out of the parse.
    time("warc shard round-trip (256 gz shards)")({
      import spark.implicits._
      val parsed = docs
        .select((col("doc_id") % 256).cast("string").as("shard"),
          col("doc_id"), col("text"))
        .as[(String, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (sh, it) =>
          val ds = it.toSeq.sortBy(_._2)
          val recs = ds.map { case (_, id, t) =>
            ext.Warc.WarcRecord(Seq(
              "WARC-Type" -> "conversion",
              "WARC-Target-URI" -> s"http://graft.test/$id",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "Content-Type" -> "text/plain"), t.getBytes("US-ASCII"))
          }
          (sh, ext.Warc.writeWarcGz(recs))
        }
        .flatMap { case (_, bytes) =>
          ext.Warc.parseWarcGz(bytes).map(r => (1L, r.payload.length.toLong))
        }
        .toDF("one", "nb")
        .agg(sum("one").as("recs"), sum("nb").as("bytes")).head()
      val expected = docs
        .agg(count(lit(1)).as("recs"), sum(length(col("text"))).as("bytes"))
        .head()
      assert(parsed.getLong(0) == expected.getLong(0) &&
        parsed.getLong(1) == expected.getLong(1),
        s"warc round-trip lost records/bytes: parsed $parsed vs $expected")
    })

    // round-14: the hypothesis family at 1M docs (q226/q231 shape) —
    // the moment-stats table is LINEAR (merge ≡ cold rebuild
    // bit-for-bit), its state is ≤ groups rows forever, and the Welch
    // probe reads only the two tables, never corpus rows.
    time("welch from merged stats (1M docs)")({
      val ev = docs.select((col("doc_id") % 16).cast("string").as("g"),
        size(split(col("text"), " ")).cast("long").as("x"), col("doc_id"))
      // split modulus 101 is COPRIME with the 16 groups (the q231
      // lesson, re-learned here: a %100 batch over %16 groups covers
      // only the {0,4,8,12} residues — gcd 4)
      val corpusT = ops.Hypothesis.statsTable(
        ev.filter(col("doc_id") % 101 =!= 0), "g", col("x"))
      val batchT = ops.Hypothesis.statsTable(
        ev.filter(col("doc_id") % 101 === 0), "g", col("x"))
        .localCheckpoint()
      val merged = ops.Hypothesis.mergeStatsTables(corpusT, batchT)
        .localCheckpoint()
      val cold = ops.Hypothesis.statsTable(ev, "g", col("x"))
      assert(merged.exceptAll(cold).count() == 0 &&
        cold.exceptAll(merged).count() == 0,
        "moment-stats merge != cold rebuild (linear law broken)")
      assert(merged.count() == 16, "stats state must be = groups rows")
      assert(ops.Hypothesis.welchFromStats(merged, batchT, "g").count() == 16,
        "welch probe must yield one test per group")
    })

    // round-14: the unigram-LM tokenizer at 1M docs — EM runs on the
    // DISTINCT-WORD table (10k words: the corpus contributes exactly one
    // pass), the trained vocab persists and reloads through IndexStore,
    // and the encode conserves words and chars EXACTLY over the ~80M
    // corpus tokens (the lossless-segmentation invariant — every piece
    // sequence concatenates back to its word).
    time("unigram-lm train + encode (1M docs)")({
      val vocab = ext.UnigramLm.train(docs, "text", vocabSize = 512,
        rounds = 2, maxPieceLen = 4)
      val dir = java.nio.file.Files.createTempDirectory("soak_uni_")
      ext.IndexStore.writeUnigramVocab(spark, vocab, 4, s"$dir/v")
      val (loaded, m) = ext.IndexStore.loadUnigramVocab(spark, s"$dir/v")
      assert(loaded == vocab && m == 4, "unigram vocab store round-trip")
      val counts = ext.UnigramLm.tokenCounts(docs, "doc_id", "text",
        loaded, m)
        .agg(sum("n_words").as("w"), sum("n_chars").as("c"),
          sum("n_pieces").as("p")).head()
      val truth = docs.select(explode(split(col("text"), " ")).as("w"))
        .agg(count(lit(1)), sum(length(col("w")))).head()
      assert(counts.getLong(0) == truth.getLong(0) &&
        counts.getLong(1) == truth.getLong(1),
        "word/char conservation through the unigram encode broke")
      assert(counts.getLong(2) >= counts.getLong(0), "pieces >= words")
      println(s"[soak] unigram vocab=${loaded.size} " +
        s"words=${counts.getLong(0)} pieces=${counts.getLong(2)}")
    })

    // round-14: exact ROC-AUC at 1M rows (q232/q233 shape) — the rank
    // identity's heavy relation is per-DISTINCT-(group, score), never
    // the n₊·n₋ pair materialization (asserted), and an independent
    // label lands the AUC at 0.5 within the 1M-sample band. The
    // confusion ladder stays |groups|·|thresholds| rows.
    time("roc-auc at 1M (rank identity)")({
      val ev = docs.select((col("doc_id") % 8).cast("string").as("g"),
        (pmod(xxhash64(col("doc_id")), lit(2)) === 0).as("y"),
        size(split(col("text"), " ")).cast("double").as("s"))
      val auc = ops.Hypothesis.rocAuc(ev, "g", col("y"), col("s"))
        .localCheckpoint()
      assert(auc.count() == 8, "one AUC per group")
      val mm = auc.agg(min("auc"), max("auc")).head()
      assert(mm.getDouble(0) > 0.45 && mm.getDouble(1) < 0.55,
        s"independent label must give AUC ~ 0.5, got $mm")
      val distinctVals = ev.select("g", "s").distinct().count()
      assert(distinctVals <= 8L * 121,
        s"rank machinery must stay per-distinct-value ($distinctVals)")
      assert(ops.Hypothesis.confusionAtThresholds(ev, "g", col("y"),
        col("s"), Seq(60.0, 80.0, 100.0)).count() == 24,
        "confusion ladder must be groups x thresholds")
      println(f"[soak] roc-auc band [${mm.getDouble(0)}%.4f, " +
        f"${mm.getDouble(1)}%.4f], distinct (g,s) = $distinctVals")
    })

    // round-15: ST32 — the streaming crawl door at scale. 1% of the
    // corpus volume arrives as 16 REAL `.warc.gz` shards in a landing
    // dir (half exact corpus dups, half guaranteed-novel seeds), drains
    // through the file stream in 4-shard micro-batches, and every batch
    // renders the 4-signal gate verdict against the FROZEN structures
    // (the shared gramIdx + simhash signatures + segment index the
    // corpus paid for once). Bounded per-batch cost is structural —
    // each batch parses ≤ maxFilesPerTrigger shards and probes frozen
    // state — and asserted: per-batch rows never exceed the 4-shard
    // ceiling, the dup arm is rejected to a doc, the novel arm admits.
    time("streaming warc gate (16 shards, 4-shard batches)")({
      import spark.implicits._
      val nArr = nDocs / 200 // per arm
      val sig = Dedup.simHash64Signature(docs, "doc_id", "text")
        .localCheckpoint()
      val keyed = docs.select(col("doc_id"),
        substring(col("text"), 1, 24).as("pfx"))
      val editIdx = ext.Fuzzy.segmentIndex(keyed, "doc_id", "pfx", 2)
        .localCheckpoint()
      val arrive = syntheticDocs(spark, nArr) // seeds ⊂ corpus → dups
        .unionByName(syntheticDocs(spark, nArr, seedOffset = 7 * nDocs)
          .withColumn("doc_id", col("doc_id") + nDocs)) // novel seeds
      val dir = java.nio.file.Files.createTempDirectory("soak_st32_")
      arrive.select((col("doc_id") % 16).as("sh"), col("doc_id"),
          col("text"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (sh, it) =>
          (sh, ext.Warc.writeWarcGz(it.map { case (_, id, t) =>
            ext.Warc.WarcRecord(Seq(
              "WARC-Type" -> "conversion",
              "WARC-Target-URI" -> s"http://t/$id",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "Content-Type" -> "text/plain"), t.getBytes("US-ASCII"))
          }.toSeq))
        }
        .collect()
        .foreach { case (sh, b) =>
          java.nio.file.Files.write(dir.resolve(f"s$sh%02d.warc.gz"), b)
        }
      val perBatch =
        scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
      val q = streaming.EventStreams.onArrival(
        streaming.EventStreams.readWarcShardStream(spark, dir.toString,
          maxFilesPerTrigger = 4))(
        streaming.EventStreams.warcGateBatch(_, gramIdx, sig, docs, editIdx,
          keyed, editKeyLen = 24, k = 2, tauNum = 4, tauDen = 5)) { v =>
        val t0 = System.nanoTime()
        val agg = v.select(
            regexp_extract(col("url"), "/([0-9]+)$", 1).cast("long")
              .as("id"), col("admit"))
          .agg(count(lit(1)),
            sum(when(col("id") < nArr && col("admit"), 1L).otherwise(0L)),
            sum(when(col("id") >= nDocs && col("admit"), 1L).otherwise(0L)))
          .head()
        perBatch.synchronized {
          perBatch += ((agg.getLong(0), agg.getLong(1), agg.getLong(2),
            (System.nanoTime() - t0) / 1e9))
        }
      }
      q.processAllAvailable()
      q.stop()
      val (rows, dupAdmits, novelAdmits) =
        (perBatch.map(_._1).sum, perBatch.map(_._2).sum,
          perBatch.map(_._3).sum)
      assert(rows == 2 * nArr, s"gate saw $rows of ${2 * nArr} arriving docs")
      // 16 shards / 4 per trigger → multiple bounded batches; ceiling =
      // 4 shards × (2·nArr/16 docs per shard, ±1 on the modulus)
      assert(perBatch.size >= 4 && perBatch.forall(_._1 <= 4 * (nArr / 8 + 1)),
        s"per-batch rows exceeded the 4-shard ceiling: ${perBatch.map(_._1)}")
      assert(dupAdmits == 0, s"exact-dup arm leaked $dupAdmits admits")
      assert(novelAdmits >= (nArr * 4) / 5,
        s"novel arm admitted only $novelAdmits of $nArr")
      perBatch.zipWithIndex.foreach { case ((n, _, _, s), i) =>
        println(f"[soak]   st32 batch $i: $n%5d docs ${s}%6.2f s")
      }
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    })

    // round-15: dictionary tagging at 1M docs — ONE automaton pass per
    // doc for a 300-entry dictionary (the scan form would re-walk each
    // doc 300×); correctness spot-checked against the relational form
    // on a 1/97 sample, throughput on the full corpus.
    time("aho-corasick tagging (1M docs, 300 patterns)")({
      val dict = (0 until 295).map(k => s"w${k * 37 % 10000}") ++
        Seq("w1 w2", "w33 w44", "w555 w666", "w7 w8 w9", "w12 w34")
      val tags = ext.Tagger.tagCountsAuto(docs, "doc_id", "text", dict)
      val n = tags.agg(count(lit(1)), sum("n_hits")).head()
      assert(n.getLong(0) > 0L && n.getLong(1) > n.getLong(0),
        s"tagger found no multi-hit mass: $n")
      val sample = docs.filter(col("doc_id") % 97 === 0)
      val a = ext.Tagger.tagCountsAuto(sample, "doc_id", "text", dict)
      val b = ext.Tagger.tagCountsScan(sample, "doc_id", "text", dict)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "automaton ≠ relational scan on the sample")
    })

    // round-15: Bloom frontier at 1M keys (m = 2^24 bits → ≤ 266k state
    // rows): zero false negatives by law; novel-key FP rate must sit
    // near the analytic (1 − e^{−kn/m})^k ≈ 0.0014, far below 1%.
    time("bloom frontier (1M build, 2M probe)")({
      val p = ext.Bloom.Params(mBits = 1L << 24, k = 5)
      val crawled = spark.range(nDocs).select(col("id"),
        concat(lit("http://h"), (col("id") % 50021).cast("string"),
          lit(".test/p/"), col("id").cast("string")).as("url"))
      val words = ext.Bloom.build(crawled, "url", p).cache()
      assert(words.count() <= p.mBits / 63 + 1, "word table exceeded bound")
      val novel = spark.range(nDocs).select((col("id") + nDocs).as("id"),
        concat(lit("http://h"), (col("id") % 50021).cast("string"),
          lit(".test/NOVEL/"), col("id").cast("string")).as("url"))
      // production probe shape: the filter densifies to a 2 MB array
      // literal and the 2M-key probe is ONE narrow codegen'd pass — no
      // explode, no join, no shuffle (the relational probe exists for
      // the SQL twin; it pays a 15M-row shuffle here)
      val dense = ext.Bloom.denseWords(words, p)
      val probed = ext.Bloom.probeDense(crawled.unionByName(novel), "url",
        "id", dense, p)
      val spot = crawled.filter(col("id") % 4999 === 0)
      val sa = ext.Bloom.probe(spot, "url", "id", words, p)
      val sb = ext.Bloom.probeDense(spot, "url", "id", dense, p)
      assert(sa.exceptAll(sb).count() == 0 && sb.exceptAll(sa).count() == 0,
        "dense probe ≠ relational probe on the spot sample")
      val r = probed.agg(
        sum(when(col("id") < nDocs && !col("maybe_present"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("id") >= nDocs && col("maybe_present"), 1L)
          .otherwise(0L)).as("fp")).head()
      assert(r.getLong(0) == 0L, s"${r.getLong(0)} false negatives (LAW)")
      assert(r.getLong(1) < nDocs / 100,
        s"fp rate ${r.getLong(1)}/$nDocs above 1%")
      words.unpersist()
    })

    // round-16: SHARDED Bloom frontier at m = 2^32 total bits (16
    // shards × 2^28) — past the single-broadcast dense cap, the
    // billions-of-URLs form. The probe is ONE co-partitioned cogroup
    // shuffle of the 2M probe rows (each carrying its k positions —
    // never the k-exploded join), and each task densifies only its own
    // 34 MB shard. Laws: word rows bounded by inserted positions (not
    // by m), zero false negatives, novel FP ≈ 0 at this density, and
    // the cogroup's task-local arithmetic ≡ the per-shard relational
    // probe on a spot sample.
    time("sharded bloom frontier (2^32 bits, 16 shards, 1M/2M)")({
      val S = 16
      val p = ext.Bloom.Params(mBits = 1L << 28, k = 5)
      val crawled = spark.range(nDocs).select(col("id"),
        concat(lit("http://h"), (col("id") % 50021).cast("string"),
          lit(".test/p/"), col("id").cast("string")).as("url"))
      val words = ext.Bloom.buildSharded(crawled, "url", S, p).cache()
      val wc = words.count()
      assert(wc <= nDocs * p.k,
        s"sharded word table $wc exceeds the inserted-position bound")
      val novel = spark.range(nDocs).select((col("id") + nDocs).as("id"),
        concat(lit("http://h"), (col("id") % 50021).cast("string"),
          lit(".test/NOVEL/"), col("id").cast("string")).as("url"))
      val probed = ext.Bloom.probeSharded(
        crawled.unionByName(novel), "url", "id", words, S, p)
      val r = probed.agg(
        sum(when(col("id") < nDocs && !col("maybe_present"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("id") >= nDocs && col("maybe_present"), 1L)
          .otherwise(0L)).as("fp")).head()
      assert(r.getLong(0) == 0L, s"${r.getLong(0)} false negatives (LAW)")
      assert(r.getLong(1) < nDocs / 100,
        s"fp rate ${r.getLong(1)}/$nDocs above 1%")
      // spot sample: cogroup verdicts ≡ per-shard relational probes
      val spot = crawled.filter(col("id") % 4999 === 0)
        .withColumn("s", ext.Bloom.shardOf(col("url"), S)).cache()
      val sa = ext.Bloom.probeSharded(spot, "url", "id", words, S, p)
        .select("id", "maybe_present")
      val sb = (0 until S).map { sh =>
        ext.Bloom.probe(spot.filter(col("s") === sh), "url", "id",
          words.filter(col("s") === sh).drop("s"), p)
          .select("id", "maybe_present")
      }.reduce(_.unionByName(_))
      assert(sa.exceptAll(sb).count() == 0 && sb.exceptAll(sa).count() == 0,
        "sharded cogroup probe ≠ per-shard relational probe on the sample")
      spot.unpersist(); words.unpersist()
    })

    // round-16: the ST36 streaming crawl door at 2 × 500k-doc waves —
    // all four gates per batch against persisted state. Wave 2
    // re-presents 50k wave-1 URLs under new ids: every one whose
    // original was ADMITTED must come back novel=false (the frontier's
    // no-false-negative law, across a real state swap). Cap state stays
    // O(hosts); per-wave wall time printed.
    time("streaming crawl door (2 waves x 500k)")({
      val nArr = nDocs / 2
      val p = ext.Bloom.Params(mBits = 1L << 24, k = 5)
      val cap = 300
      val rules = ext.Robots.ruleTable(
        spark.createDataFrame(
          Seq(("hblock", "User-agent: *\nDisallow: /\n")))
          .toDF("host", "content"),
        "host", "content", "graftbot").localCheckpoint()
      // (round-17 fix: this stage shipped in the interrupted round-16
      // build with `src` dropped by the select before the payload
      // withColumn referenced it — an unresolved-column crash on first
      // execution; the soak had not been run since the stage landed.)
      def mkWave(ids: org.apache.spark.sql.DataFrame) = ids.select(
        col("id"), col("src"),
        when(col("src") % 97 === 0, lit("hblock"))
          .otherwise(concat(lit("h"), (col("src") % 1009).cast("string")))
          .as("host"),
        concat(lit("/p/"), col("src").cast("string")).as("path"))
        .withColumn("url",
          concat(lit("http://"), col("host"), lit(".test"), col("path")))
        .withColumn("payload",
          when(col("src") % 11 === 0,
            lit(Array[Byte](0, -1, 42)))
            .otherwise(concat(lit("text "), col("src").cast("string"))
              .cast("binary")))
        .drop("src")
      val dir = java.nio.file.Files
        .createTempDirectory("soak_st36_").toString
      val w1 = mkWave(spark.range(nArr)
        .select(col("id"), col("id").as("src")))
      val t1 = System.nanoTime()
      val v1 = streaming.EventStreams.crawlDoorMergeBatch(w1, "id", "host",
        "path", "url", "payload", rules, p, cap,
        s"$dir/frontier", s"$dir/cap", 0L).get.cache()
      val adm1 = v1.filter(col("admitted"))
        .select((col("id")).as("src0")).cache()
      println(f"[soak]   st36 wave 1: ${v1.count()}%d verdicts, " +
        f"${adm1.count()}%d admitted, ${(System.nanoTime() - t1) / 1e9}%.2f s")
      val capRows = spark.read.parquet(s"$dir/cap").count()
      assert(capRows <= 1011L, s"cap state $capRows rows exceeds O(hosts)")
      val fRows = spark.read.parquet(s"$dir/frontier").count()
      assert(fRows <= p.mBits / 63 + 1, s"frontier $fRows rows over bound")
      // wave 2: fresh half + 50k re-presented wave-1 urls under new ids
      val w2 = mkWave(
        spark.range(nArr, nDocs).select(col("id"), col("id").as("src"))
          .unionByName(spark.range(nArr / 10)
            .select((col("id") + 2 * nDocs).as("id"), col("id").as("src"))))
      val t2 = System.nanoTime()
      val v2 = streaming.EventStreams.crawlDoorMergeBatch(w2, "id", "host",
        "path", "url", "payload", rules, p, cap,
        s"$dir/frontier", s"$dir/cap", 1L).get.cache()
      println(f"[soak]   st36 wave 2: ${v2.count()}%d verdicts, " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s")
      // law: a re-presented url whose original was admitted is never
      // novel (frontier no-false-negatives across the swap)
      val leaked = v2.filter(col("id") >= 2 * nDocs && col("novel"))
        .select((col("id") - 2 * nDocs).as("src0"))
        .join(adm1, "src0").count()
      assert(leaked == 0L, s"$leaked admitted wave-1 urls came back novel")
      // replay refused on the cap guard; both states untouched
      assert(streaming.EventStreams.crawlDoorMergeBatch(w2, "id", "host",
        "path", "url", "payload", rules, p, cap,
        s"$dir/frontier", s"$dir/cap", 1L).isEmpty, "replay not refused")
      v1.unpersist(); v2.unpersist(); adm1.unpersist()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    })

    // round-15: TFRecord sink/source at 1M records × 64 shards — the
    // framed-proto codec at volume; conservation checked on count and
    // the exact id-sum (any dropped/duplicated/corrupt record breaks it).
    time("tfrecord round-trip (1M records, 64 shards)")({
      val dir = java.nio.file.Files.createTempDirectory("soak_tfr_")
      val out = dir.toString + "/t"
      ops.TfRecord.write(docs.select(col("doc_id"), col("text")), out, 64)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val back = ops.TfRecord.read(spark, out, schema)
        .agg(count(lit(1)).as("n"), sum("doc_id").as("ids"),
          sum(length(col("text"))).as("chars")).head()
      val want = docs.agg(count(lit(1)), sum("doc_id"),
        sum(length(col("text")))).head()
      assert(back == want, s"tfrecord round-trip drifted: $back vs $want")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    })

    spark.stop()
  }
}
