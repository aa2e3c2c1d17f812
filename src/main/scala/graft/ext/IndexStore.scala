package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted index storage with PARTITION-PRUNED probes — the at-rest form
  * of the retrieval/ANN indexes. Building an index is a corpus-scale job;
  * probing it is not, and at 100 TB a probe that re-scans the whole index
  * erases the point of having one. Both layouts here turn the probe's
  * filter into hive partition pruning, so a query reads only its
  * partitions' files (the q92 discipline, applied to index tables):
  *
  *  - postings: term-hash buckets (partitioning by raw term would mint a
  *    directory per vocabulary word; a CRC32 bucket keeps directory count
  *    fixed while still pruning to queried terms' buckets). The in-file
  *    term filter still prunes row groups via parquet stats.
  *  - IVF-PQ codes: partitioned by coarse cell — `IvfPq.search`'s nprobe
  *    `isin` filter then IS partition pruning, unchanged.
  */
object IndexStore {

  /** Driver-side twin of the bucket expression in [[writePostings]]
    * (CRC32 over UTF-8 bytes — bit-identical in java.util.zip and Spark's
    * `crc32`).
    */
  def termBucket(term: String, nBuckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, nBuckets.toLong)
  }

  /** Persist an inverted index ([[Retrieval.invertedIndex]] shape: one row
    * per term) hive-partitioned by `nBuckets` CRC32 term buckets.
    */
  def writePostings(index: DataFrame, path: String, termCol: String = "w",
      nBuckets: Int = 64): Unit =
    index
      .withColumn("term_bucket",
        pmod(crc32(encode(col(termCol), "UTF-8")), lit(nBuckets.toLong)))
      .write.partitionBy("term_bucket").mode("overwrite").parquet(path)

  /** Probe persisted postings for `terms`: the bucket predicate prunes
    * partitions (only the queried terms' buckets are read) and the term
    * predicate prunes row groups inside them. `nBuckets` must match the
    * write.
    */
  def readPostings(spark: SparkSession, path: String, terms: Seq[String],
      termCol: String = "w", nBuckets: Int = 64): DataFrame = {
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    spark.read.parquet(path)
      .filter(col("term_bucket").isin(buckets: _*) &&
        col(termCol).isin(terms: _*))
      .drop("term_bucket")
  }

  /** Persist a Hamming fingerprint table ((idCol, sh/ph) — simhash, SRP,
    * or perceptual hash) hive-partitioned by `nBuckets` low-bits buckets
    * of the fingerprint. A Hamming-radius probe must read every bucket
    * (any bit can differ), so the bucketing is NOT for radius pruning —
    * it keeps files bounded and parallel, and gives the dist-0 path
    * (exact-fingerprint lookup, the common ingest fast path) true
    * partition pruning via [[readSignaturesExact]].
    */
  def writeSignatures(sig: DataFrame, path: String,
      hashCol: String = "ph", nBuckets: Int = 64): Unit =
    sig
      .withColumn("sig_bucket",
        pmod(col(hashCol), lit(nBuckets.toLong)))
      .write.partitionBy("sig_bucket").mode("overwrite").parquet(path)

  /** Load the full persisted fingerprint table (Hamming-radius probes
    * touch every bucket by nature).
    */
  def loadSignatures(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("sig_bucket")

  /** Exact-fingerprint (dist-0) lookup against the store: the probe's
    * bucket predicate prunes to the queried fingerprints' partitions.
    * `nBuckets` must match the write.
    */
  def readSignaturesExact(spark: SparkSession, path: String,
      hashes: Seq[Long], hashCol: String = "ph",
      nBuckets: Int = 64): DataFrame = {
    val buckets = hashes.map(h => java.lang.Math.floorMod(h, nBuckets.toLong))
      .distinct
    spark.read.parquet(path)
      .filter(col("sig_bucket").isin(buckets: _*) &&
        col(hashCol).isin(hashes: _*))
      .drop("sig_bucket")
  }

  /** Persist IVF-PQ codes partitioned by coarse cell. */
  def writeIvfPqCodes(model: IvfPq.Model, path: String): Unit =
    model.encoded.write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Reload persisted codes into the model. [[IvfPq.search]]'s nprobe
    * `cell isin (...)` filter over the result is partition pruning — a
    * probe reads nprobe/nlist of the index's files, nothing else.
    */
  def loadIvfPqCodes(model: IvfPq.Model, spark: SparkSession,
      path: String): IvfPq.Model =
    model.copy(encoded = spark.read.parquet(path))

  /** Persist a [[Dedup.GramIndex]]'s MATERIALIZED relations (dict, enc,
    * sets, packed — `weighted` re-derives from enc in one window pass on
    * demand, so the at-rest form never stores the per-occurrence norm
    * columns twice). Unlike the postings/IVF-PQ layouts above, a gram
    * index's probes are JOINS (batch grams × dict, candidates × per-doc
    * arrays) with no literal predicates, so hive partition pruning has
    * nothing to bind against — at cluster scale AQE/DPP handle the join
    * pruning. What persistence buys is skipping the corpus-scale
    * tokenize→n-gram→rank pipeline REBUILD: a later session loads the
    * relations and probes ([[Dedup.incrementalJaccardJoin]] etc.) or
    * [[Dedup.GramIndex.append]]s in O(batch).
    */
  def writeGramIndex(index: Dedup.GramIndex, path: String): Unit = {
    // The five writes are independent jobs over already-materialized
    // checkpoints — submit them concurrently so each job's scheduling
    // floor and write tail overlap (guide-§2.6 back-fill; the q91
    // parallel-KMeans lesson applied to sinks). Futures force relation
    // materialization in-thread first via the lazy vals' own locks, which
    // is safe: each lazy val materializes exactly once.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = index.dict.sparkSession
    val writes = Seq(
      ("dict", () => index.dict), ("enc", () => index.enc),
      ("sets", () => index.sets), ("packed", () => index.packed),
      ("meta", () => spark.range(1).select(lit(index.n).as("n"))))
      .map { case (name, rel) =>
        val df = rel() // resolve lazily-built relations in THIS thread
        Future(df.write.mode("overwrite").parquet(s"$path/$name"))
      }
    writes.foreach(Await.result(_, Duration.Inf))
  }

  /** Reload a persisted gram index. The returned [[Dedup.GramIndex]]
    * reads each relation from its parquet (no recompute, no
    * re-checkpoint — the files ARE the materialization); `weighted`
    * derives from the loaded enc on first cosine use.
    */
  def loadGramIndex(spark: SparkSession, path: String): Dedup.GramIndex = {
    val n = spark.read.parquet(s"$path/meta").head().getAs[Int]("n")
    Dedup.loadedGramIndex(spark, path, n)
  }

  /** Persist a [[Fuzzy.segmentIndex]] with its corpus key strings and k —
    * the at-rest form of the STRING member of the incremental family:
    * a later session loads both relations and probes batches in O(batch)
    * ([[Fuzzy.incrementalEditDistanceJoin]]) with zero corpus re-scan.
    * `corpus` must be the (idCol, strCol) relation the index was built
    * over (the verify join and the short-string path read it).
    */
  def writeSegmentIndex(index: DataFrame, corpus: DataFrame, k: Int,
      path: String): Unit = {
    index.write.mode("overwrite").parquet(s"$path/seg")
    corpus.write.mode("overwrite").parquet(s"$path/corpus")
    val spark = index.sparkSession
    spark.range(1).select(lit(k).as("k"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted segment index: (segment relation, corpus keys, k).
    * Pass the first two straight to [[Fuzzy.incrementalEditDistanceJoin]]
    * with the loaded k.
    */
  def loadSegmentIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int) = {
    val k = spark.read.parquet(s"$path/meta").head().getAs[Int]("k")
    (spark.read.parquet(s"$path/seg"),
      spark.read.parquet(s"$path/corpus"), k)
  }

  /** Persist a drift-monitor ECDF count table
    * ([[graft.ops.Drift.ecdfTable]] / `quantizedEcdfTable`) WITH its
    * grid step — the step is part of the probe contract (every batch
    * must snap to the same grid), so a cold-start monitor must never
    * have to guess it. No hive partitioning: every probe merges the
    * WHOLE table (a two-sample test reads both full ECDFs), and the
    * table is grid- or distinct-value-bounded, so there is nothing to
    * prune and nothing oversized. `step = None` marks a raw
    * (unquantized) table.
    */
  def writeEcdfTable(counts: DataFrame, path: String,
      step: Option[Double] = None): Unit = {
    // NaN is the on-disk encoding of step=None, so a caller-provided NaN
    // (or non-positive/infinite step) would silently round-trip as a RAW
    // table — reject it loudly (the quantize contract requires a
    // positive finite step anyway). Meta + counts are staged under one
    // temp root and the WHOLE store directory swaps in atomically
    // (Upsert.writeAtomicMulti) — per-table overwrites could crash
    // between the two writes and leave new meta + old counts, which
    // loads cleanly and probes on the wrong grid. A crash mid-swap
    // leaves the prior store at `<path>.old`; [[loadEcdfTable]] calls
    // `Upsert.recover` to restore it.
    require(step.forall(s => s > 0 && java.lang.Double.isFinite(s)),
      s"writeEcdfTable: step must be positive and finite, got $step")
    val spark = counts.sparkSession
    graft.ops.Upsert.writeAtomicMulti(spark, path, { root =>
      spark.range(1)
        .select(lit(step.getOrElse(Double.NaN)).as("step"))
        .write.mode("overwrite").parquet(s"$root/meta")
      counts.write.mode("overwrite").parquet(s"$root/counts")
    })
  }

  /** Reload a persisted ECDF reference: (count table, grid step —
    * `None` = raw values). Feed straight to
    * [[graft.ops.Drift.incrementalKs]] / `incrementalKsQuantized` (and
    * the Wasserstein twins) or the ST23 streaming monitor.
    */
  def loadEcdfTable(spark: SparkSession,
      path: String): (DataFrame, Option[Double]) = {
    graft.ops.Upsert.recover(spark, path)
    val s = spark.read.parquet(s"$path/meta").head().getAs[Double]("step")
    (spark.read.parquet(s"$path/counts"),
      if (java.lang.Double.isNaN(s)) None else Some(s))
  }

  /** Persist a PSI reference bucket table (`(bucket, n_ref)`) WITH the
    * threshold ladder that defines its buckets — the thresholds are the
    * other half of the [[graft.ops.Drift.psiAgainstReference]] contract
    * (a probe bucketing by a different ladder compares apples to
    * oranges), so they ride along for cold starts (ST20 from a fresh
    * session).
    */
  def writePsiReference(refBuckets: DataFrame, thresholds: Seq[Long],
      path: String): Unit = {
    refBuckets.write.mode("overwrite").parquet(s"$path/buckets")
    import refBuckets.sparkSession.implicits._
    thresholds.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("pos", "threshold")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted PSI reference: (bucket table, threshold ladder
    * in original order).
    */
  def loadPsiReference(spark: SparkSession,
      path: String): (DataFrame, Seq[Long]) = {
    val ts = spark.read.parquet(s"$path/meta")
      .orderBy("pos").collect().map(_.getAs[Long]("threshold")).toSeq
    (spark.read.parquet(s"$path/buckets"), ts)
  }

  /** Persist a grid-free rank sketch ([[graft.ops.Sketches.rankSketch]])
    * WITH its k — k is the merge contract (merging sketches of
    * different k re-ranks to the smaller one's semantics, which is a
    * different sketch than either side persisted), so it rides along
    * like the ECDF grid step. Atomic whole-store swap (the
    * [[writeEcdfTable]] crash rule: sketch and meta must never mix
    * across a crash).
    */
  def writeRankSketch(sketch: DataFrame, k: Int, path: String): Unit = {
    require(k > 0, s"writeRankSketch: k=$k")
    val spark = sketch.sparkSession
    graft.ops.Upsert.writeAtomicMulti(spark, path, { root =>
      spark.range(1).select(lit(k).as("k"))
        .write.mode("overwrite").parquet(s"$root/meta")
      sketch.write.mode("overwrite").parquet(s"$root/sketch")
    })
  }

  /** Reload a persisted rank sketch: (sketch table, k). Feed straight to
    * [[graft.ops.Sketches.rankSketchMerge]] with the loaded k (the
    * O(batch + k) incremental-quantile path) or to
    * `quantilesFromRankSketch`.
    */
  def loadRankSketch(spark: SparkSession, path: String): (DataFrame, Int) = {
    graft.ops.Upsert.recover(spark, path)
    val k = spark.read.parquet(s"$path/meta").head().getAs[Int]("k")
    (spark.read.parquet(s"$path/sketch"), k)
  }

  /** Persist a trained unigram-LM vocabulary
    * ([[graft.ext.UnigramLm.train]]) WITH its maxPieceLen — the encode
    * contract (Viterbi scans spans up to that length; a different bound
    * is a different tokenizer), so it rides in meta like the ECDF grid
    * step. Rank = the pinned (score desc, piece asc) order, persisted
    * explicitly so the loaded vocab reproduces ties byte-for-byte.
    * Atomic whole-store swap.
    */
  def writeUnigramVocab(spark: SparkSession,
      vocab: Seq[graft.ext.UnigramLm.Piece], maxPieceLen: Int,
      path: String): Unit = {
    require(vocab.nonEmpty && maxPieceLen >= 1,
      s"writeUnigramVocab: ${vocab.size} pieces, maxPieceLen=$maxPieceLen")
    import spark.implicits._
    graft.ops.Upsert.writeAtomicMulti(spark, path, { root =>
      spark.range(1).select(lit(maxPieceLen).as("max_piece_len"))
        .write.mode("overwrite").parquet(s"$root/meta")
      vocab.zipWithIndex
        .map { case (p, i) => (i + 1, p.piece, p.score) }
        .toDF("rank", "piece", "score")
        .write.mode("overwrite").parquet(s"$root/vocab")
    })
  }

  /** Reload a persisted unigram vocab: (pieces in rank order,
    * maxPieceLen). Feed straight to
    * [[graft.ext.UnigramLm.tokenCounts]] — a later session encodes with
    * zero retraining (the gram-index at-rest contract for tokenizers).
    */
  def loadUnigramVocab(spark: SparkSession,
      path: String): (Seq[graft.ext.UnigramLm.Piece], Int) = {
    graft.ops.Upsert.recover(spark, path)
    val m = spark.read.parquet(s"$path/meta").head()
      .getAs[Int]("max_piece_len")
    val vocab = spark.read.parquet(s"$path/vocab")
      .orderBy("rank").collect()
      .map(r => graft.ext.UnigramLm.Piece(r.getAs[String]("piece"),
        r.getAs[Double]("score"))).toSeq
    (vocab, m)
  }
}
