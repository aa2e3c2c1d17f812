package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import TextHash._

/** Deduplication operators for large-scale document pipelines.
  *
  * Scale design: every signature here is computed with array-level column
  * math (whole-stage codegen, zero shuffle) — the only shuffles are the
  * final groupBy/self-join on compact keys, which is the theoretical
  * minimum. At 100 TB: signatures stream through scans; candidate joins key
  * on band hashes whose cardinality ≈ #docs, so the shuffle is O(|keys|),
  * never O(|pairs|).
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct hash with the
    * smallest id as the deterministic keeper and the duplicate count.
    */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("dup_cnt"))

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

  /** Pair dedup partitioned by `firstKey` ONLY (still a correct distinct —
    * hash(doc_a) co-locates every copy of (doc_a, doc_b)), so the verify
    * join that follows on `firstKey` consumes the dedup's partitioning
    * as-is: one exchange serves both operators (guide-§2.4 shared
    * exchange). Per-doc_a fan-out is bounded by candidate volume per doc,
    * the same bound the verify join's own partitioning relies on.
    */
  private[graft] def distinctPairs(firstKey: String)(raw: DataFrame): DataFrame =
    atFullWidth(firstKey)(raw).distinct()

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-grams ("shingles") of a text column; empty array when
    * the document has fewer than n tokens (never a decreasing `sequence`).
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Distinct (id, n-gram) rows — the relational formulation of
    * [[wordNgrams]]+explode: posexplode tokens once, assemble each n-gram
    * from the `lead` window over positions. Everything stays in
    * whole-stage codegen + one per-document window; the array/HOF form
    * re-splits the text inside every interpreted lambda element, which at
    * corpus scale is the entire runtime.
    */
  def ngramsExploded(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ngramRows(df, idCol, textCol, n).distinct()

  /** Every (id, n-gram) OCCURRENCE (not distinct) — the multiset form
    * behind [[ngramsExploded]] and the tf weights of
    * [[cosineSimilarityJoin]].
    *
    * Shape (round 16): the token ARRAY rides along the posexplode and each
    * n-gram assembles via `element_at(toks, pos+k)` — O(1) array access in
    * whole-stage codegen, NO per-document window. The previous `lead` window
    * formulation paid a full Exchange(id) + Sort(id, pos) over every token
    * occurrence of the corpus per gram-pipeline build (QBench A/B at sf0.1:
    * q26 0.92 → 0.30 s min, q105 6.46 → 4.80, q103 8.88 → 7.29,
    * q86 6.86 → 5.87 — every GramIndex query dropped ~1-1.7 s). The
    * array column never materializes past the Generate — the pipelined
    * partial aggregate consumes (id, g) rows in the same codegen loop.
    */
  private def ngramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val tok = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "w0")))
    tok
      .filter(col("pos") <= size(col("__toks")) - n)
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(k =>
          element_at(col("__toks"), col("pos") + k + 1)): _*).as("g"))
  }

  /** Dense long ids for a (g, gdf) vocabulary, ranked rarest-first so
    * ascending gid order = prefix order — DISTRIBUTED (range-partitioned
    * sort + zipWithIndex per-partition offsets, never a single-partition
    * window; see [[GramIndex.dict]] for why). The rank key
    * (gdf, g) is unique per gram, so ids are the exact global rank
    * regardless of where range boundaries land.
    */
  private def rankDictionary(gdf: DataFrame): DataFrame = {
    val sorted = gdf.repartitionByRange(col("gdf"), col("g"))
      .sortWithinPartitions("gdf", "g")
      .select(col("g"))
    val session = gdf.sparkSession
    import session.implicits._
    sorted.rdd.map(_.getString(0)).zipWithIndex()
      .map { case (g, i) => (g, i + 1L) }
      .toDF("g", "gid")
  }

  /** MinHash signature (id, mh0..mh{k-1}) over whitespace tokens:
    * mh_j = min over tokens of (a_j·h(t) + b_j) mod P.
    *
    * Relational formulation: explode tokens once, hash each token ONCE
    * (md5 is codegen'd), min-aggregate all k seeds in one grouped pass.
    * The array-HOF alternative (`array_min(transform(...))` per seed)
    * re-inlines the token hashing into every seed column after projection
    * collapse — k× the md5 work, interpreted.
    */
  def minHashSignature(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), tokenHash(col("w")).as("h"))
    val mins = Seeds.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % lit(P)).as(s"mh$j")
    }
    hashed.groupBy(idCol).agg(mins.head, mins.tail: _*)
  }

  /** Per-ROW minhash columns mh0..mh{k-1} — the array/HOF twin of
    * [[minHashSignature]] (identical values: min over the same affine
    * hashes of the same tokens). The HOF form is interpreted per element,
    * so at corpus scale the relational groupBy form wins (see its doc);
    * THIS form exists for Structured STREAMING, where a per-document
    * signature must be plain column math — a groupBy signature would be a
    * stateful streaming aggregation — and micro-batches are small enough
    * that interpretation doesn't matter.
    */
  def minHashCols(text: Column): Seq[Column] = {
    val hs = transform(tokens(text), t => tokenHash(t))
    Seeds.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % lit(P))).as(s"mh$j")
    }
  }

  /** The persistent (band_id, bk) key table of a corpus's LSH bands — the
    * build-once side of [[incrementalDupIds]] and of the streaming
    * dedup-on-arrival ([[graft.streaming.EventStreams.lshDedupAgainstStatic]]).
    * Keys are distinct, so probe joins never fan out; persist (bucketed by
    * bk at scale) and every future ingest is probe-only.
    */
  def corpusBandKeys(corpus: DataFrame, idCol: String, textCol: String,
      bands: Seq[Seq[String]]): DataFrame =
    bandKeyRows(minHashSignature(corpus, idCol, textCol), idCol, bands)
      .select("band_id", "bk").distinct()

  /** The id-CARRYING (idCol, band_id, bk) band table of a corpus — the
    * build-once side of [[DedupCluster.assignToClusters]], where the
    * probe must learn WHICH corpus doc collided (to adopt its cluster),
    * not merely that one did ([[corpusBandKeys]] keeps only the distinct
    * keys for the drop/keep verdicts). Persist bucketed by bk at scale.
    */
  def corpusBandRows(corpus: DataFrame, idCol: String, textCol: String,
      bands: Seq[Seq[String]]): DataFrame =
    bandKeyRows(minHashSignature(corpus, idCol, textCol), idCol, bands)

  /** (id, band_id, bk) rows of a signature: key concatenates the band's
    * signature columns (injective — minhash values are bounded longs, the
    * separator can't occur inside one).
    */
  private[ext] def bandKeyRows(sig: DataFrame, idCol: String,
      bands: Seq[Seq[String]]): DataFrame = {
    val entries = array(bands.zipWithIndex.map { case (cols, bi) =>
      struct(lit(bi.toLong).as("band_id"),
        concat_ws("|", cols.map(col): _*).as("bk"))
    }: _*)
    sig.select(col(idCol), explode(entries).as("e"))
      .select(col(idCol), col("e.band_id"), col("e.bk"))
  }

  /** LSH banding over a minhash signature: documents sharing a band emit a
    * candidate pair (doc_a < doc_b, tagged with the band). Each band is an
    * equi-join on the band's plain hash columns (no struct packing — struct
    * equality costs per-row allocation; the output side is tens of millions
    * of candidate pairs). Broadcast/sort-merge chosen by AQE.
    */
  def lshCandidatePairs(sig: DataFrame, idCol: String,
      bands: Seq[Seq[String]]): DataFrame = {
    bands.zipWithIndex.map { case (cols, bi) =>
      val x = sig.select(col(idCol).as("doc_a") +: cols.map(col): _*)
      val y = sig.select(col(idCol).as("doc_b") +: cols.map(col): _*)
      x.join(y, cols, "inner").filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), lit(bi).as("band_id"))
    }.reduce(_ unionByName _)
  }

  /** 16-bit SimHash over whitespace tokens: bit j is the sign of the sum of
    * ±1 contributions of each token's hash bit j. Pure array math.
    */
  def simHash16(text: Column): Column = {
    val hs = transform(tokens(text), t => tokenHash(t))
    (0 until 16).map { j =>
      val contrib = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L))
      when(contrib >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** 64-bit SimHash fingerprint per document — the production width (the
    * 16-bit [[simHash16]] is the teaching size; its 2^(16/(d+1))-value
    * band keys go quadratically hot at corpus scale). Four salted
    * [[TextHash.tokenHash]] draws per token supply 16 honest bits each
    * (the portable md5-digit hash carries ~26 uniform low bits, so bits
    * 0–15 of each draw are unbiased); bit j of the fingerprint is the
    * sign of the corpus-standard ±1 vote sum. All relational — explode
    * tokens once, hash in codegen, ONE grouped pass computes all 64 vote
    * sums (the array-HOF form would re-inline the hashing per bit,
    * interpreted). Bits assemble via bitwise OR (bit 63 as an addend
    * would overflow a signed long). Output: (idCol, sh: long, two's
    * complement — both engines compare fingerprints with XOR+popcount,
    * which is sign-agnostic).
    */
  def simHash64Signature(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashSignature(df, idCol, textCol, nHashes = 4)

  /** Relational SimHash over `16·nHashes` bits: explode tokens once, take
    * `nHashes` salted hash columns (16 unbiased low bits each), compute
    * every vote sum in ONE grouped codegen pass, assemble bits with OR.
    * nHashes=1 computes bit-identical values to the [[simHash16]] Column
    * (same hash, same votes, same sign rule) at 1/16th the hash work —
    * the HOF form re-inlines the token hashing into every per-bit
    * aggregate after projection collapse, interpreted.
    */
  private def simHashSignature(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val hashed = tok.select(col(idCol) +: (0 until nHashes).map { k =>
      val salted = if (k == 0) col("w") else concat(col("w"), lit(s"|$k"))
      tokenHash(salted).as(s"h$k")
    }: _*)
    val sums = (0 until 16 * nHashes).map { j =>
      sum(when(shiftright(col(s"h${j / 16}"), j % 16)
        .bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L)).as(s"s$j")
    }
    hashed.groupBy(idCol).agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until 16 * nHashes).map(j =>
          when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sh"))
  }

  /** Band layout for Hamming pigeonholing: `nBands` contiguous
    * (offset, width) ranges covering ALL `totalBits` bits. When nBands
    * does not divide totalBits the remainder spreads one extra bit over
    * the leading bands (widths ⌈/⌉ then ⌊/⌋) — a flat `totalBits/nBands`
    * would leave the top `totalBits % nBands` bits in no band: still no
    * false negatives, but narrower bands than necessary inflate candidate
    * fan-out.
    */
  private def bandRanges(totalBits: Int, nBands: Int): Seq[(Int, Int)] = {
    val base = totalBits / nBands
    val extra = totalBits % nBands
    val widths = Seq.tabulate(nBands)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }

  /** (id, band, bk) band-key rows of a fingerprint relation
    * (`__id`, `sh`) for Hamming radius `maxDist` over `totalBits` bits.
    * Exposed to the soak harness, which asserts the 64-bit key space
    * keeps band buckets near corpus/2^width (the whole point of the wide
    * fingerprint). Unsigned shift: bit 63 must not smear sign bits over
    * the extracted band.
    */
  private[graft] def hammingBandKeys(sig: DataFrame, totalBits: Int,
      maxDist: Int): DataFrame = {
    val entries = array(bandRanges(totalBits, maxDist + 1).zipWithIndex.map {
      case ((off, wd), b) =>
        val mask = if (wd >= 64) -1L else (1L << wd) - 1
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), off).bitwiseAND(lit(mask)).as("bk"))
    }: _*)
    sig.select(col("__id"), col("sh"), explode(entries).as("e"))
      .select(col("__id"), col("sh"), col("e.band"), col("e.bk"))
  }

  /** Shared banding + verification behind both fingerprint widths (and
    * `Similarity.srpNearDupPairs`, the embedding-space fingerprint):
    * equi-join each band's keys, dedup candidate pairs, exact XOR-popcount
    * verify. Only candidates pay the popcount; no false negatives
    * (pigeonhole: maxDist flips cannot touch all maxDist+1 bands).
    */
  private[graft] def hammingNearDupPairs(sig: DataFrame, totalBits: Int,
      maxDist: Int): DataFrame = {
    // Deliberately NO atFullWidth pin and a PLAIN distinct here (round-17
    // A/B, reverting the round-16 pin the driver measured as a ~0.91×
    // loss on q111/q117): unlike the gram-join family, the pair rows
    // carry their fingerprints along (sha/shb — the verify is a popcount
    // on the row, not a join back to a per-doc relation), so there is no
    // downstream join to reuse a doc_a exchange, and the dedup itself is
    // cheap enough that AQE's byte-based coalescing is the right width.
    // QBench min-of-5 at sf0.1, pin vs none: q111 3.18→3.12,
    // q117 3.47→3.23, q149 1.60→1.48, q150 2.44→2.24, q156 1.73→1.43,
    // q204 1.70→1.13; the gates (q118/q135/q139) were a wash across two
    // paired runs.
    val banded = hammingBandKeys(sig, totalBits, maxDist)
    val cand = banded.alias("a").join(banded.alias("b"),
      col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .distinct()
    cand
      .withColumn("dist", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  /** SimHash Hamming near-dup pairs via band pigeonholing (the Manku et
    * al. WWW'07 scheme Google ran for web dedup): every pair of documents
    * whose 16-bit [[simHash16]] fingerprints differ in at most `maxDist`
    * bits. Candidates come from equi-joins on band values and only
    * candidates pay the exact XOR-popcount verification. No false
    * negatives; everything is integer arithmetic on both engines.
    *
    * Scale shape: one fingerprint pass over the corpus, then
    * `maxDist + 1` equi-joins keyed on ≤ 2^(16/(maxDist+1))-value band
    * keys — HOT at corpus scale (maxDist=3 leaves 16 values per band);
    * [[simHash64NearDupPairs]] is the production configuration (64-bit
    * fingerprint, 16-bit bands, 65536 buckets) with the identical
    * banding/verification shape. Output: (doc_a, doc_b, dist),
    * doc_a < doc_b, deduped across bands.
    */
  def simHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"simHashNearDupPairs: 0 <= maxDist < 16")
    // Relational signature (bit-identical to the simHash16 Column, 1/16th
    // the hash work), checkpointed because it feeds BOTH self-join sides —
    // the q86/DedupCluster multi-use-subplan lesson.
    val sig = simHashSignature(df, idCol, textCol, nHashes = 1)
      .select(col(idCol).as("__id"), col("sh"))
      .localCheckpoint()
    hammingNearDupPairs(sig, 16, maxDist)
  }

  /** [[simHashNearDupPairs]] at the production width: 64-bit
    * [[simHash64Signature]] fingerprints, `maxDist + 1` bands of ~64/(d+1)
    * bits. At the default radius 3 the bands are 16 bits wide — 65536
    * buckets per band, so bucket occupancy is corpus/65536 and candidate
    * volume stays linear where the 16-bit variant's 16-value bands go
    * Θ(n²/16). Verification is unchanged (XOR + popcount on the wider
    * word). Output: (doc_a, doc_b, dist), doc_a < doc_b.
    */
  def simHash64NearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"simHash64NearDupPairs: 0 <= maxDist < 64")
    // Checkpoint: the 64-aggregate signature pass feeds both join sides.
    val sig = simHash64Signature(df, idCol, textCol)
      .select(col(idCol).as("__id"), col("sh"))
      .localCheckpoint()
    hammingNearDupPairs(sig, 64, maxDist)
  }

  /** EXACT incremental SIMHASH probe: every (batch doc a, corpus doc b)
    * pair whose 64-bit fingerprints differ in at most `maxDist` bits,
    * probing a PRECOMPUTED corpus signature table — the Hamming member
    * of the incremental family ([[incrementalJaccardJoin]] /
    * [[incrementalContainmentJoin]] / [[incrementalCosineJoin]] probe a
    * frozen [[GramIndex]]; this probes frozen fingerprints). The corpus
    * pays nothing per batch: `corpusSig` is the one-off
    * [[simHash64Signature]] pass (persist it; at rest the derived
    * (band, bk) key table stores bucketed like the ST7b/postings
    * layouts), and each arriving batch pays one fingerprint pass plus
    * `maxDist + 1` asymmetric equi-joins on 65536-value band keys — no
    * candidate can hide (pigeonhole), only candidates pay the
    * XOR-popcount. Output: (doc_a = batch id, doc_b = corpus id, dist).
    *
    * @param corpusSig (idCol, sh) as produced by [[simHash64Signature]].
    */
  def incrementalSimHash64Pairs(corpusSig: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"incrementalSimHash64Pairs: 0 <= maxDist < 64")
    val bSig = simHash64Signature(batch, idCol, textCol)
      .select(col(idCol).as("__id"), col("sh"))
      .localCheckpoint()
    val cSig = corpusSig.select(col(idCol).as("__id"), col("sh"))
    hammingProbePairs(bSig, cSig, 64, maxDist)
  }

  /** Asymmetric Hamming band probe behind [[incrementalSimHash64Pairs]]
    * and `Similarity.incrementalSrpPairs`: batch fingerprints equi-join a
    * frozen corpus signature table on (band, key), candidates pay the
    * XOR-popcount. Both inputs are (`__id`, `sh`).
    */
  private[graft] def hammingProbePairs(bSig: DataFrame, cSig: DataFrame,
      totalBits: Int, maxDist: Int): DataFrame = {
    // No pins, plain distinct — same rationale and A/B as
    // [[hammingNearDupPairs]].
    val cand = hammingBandKeys(bSig, totalBits, maxDist).alias("a")
      .join(hammingBandKeys(cSig, totalBits, maxDist).alias("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .distinct()
    cand
      .withColumn("dist", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  /** INGEST GATE: the per-batch admit/reject decision a production
    * pipeline renders at the door, combining the frozen-structure probes
    * into one verdict table — exact duplicate (text equality against the
    * corpus; the engine's join hash IS the hash table), exact Jaccard
    * near-dup ≥ τ ([[incrementalJaccardJoin]] over the [[GramIndex]]),
    * and simhash Hamming ≤ maxDist ([[incrementalSimHash64Pairs]] over
    * the signature table). Each probe is O(batch) against structures the
    * corpus paid for once; `admit` is the conjunction of all-clear
    * flags. Emitting per-signal booleans (not just the verdict) is
    * deliberate: curation wants the WHY — audit sampling, threshold
    * tuning, and per-source dup-rate dashboards all read the flags.
    * Output: (idCol, exact_dup, jac_dup, sh_dup, admit).
    */
  def ingestGate(index: GramIndex, corpusSig: DataFrame,
      corpusTexts: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, tauNum: Int = 1, tauDen: Int = 2,
      maxDist: Int = 3): DataFrame = {
    // The jaccard and simhash signals each materialize eager checkpoints
    // at CONSTRUCTION time (the GramIndex relations / the batch
    // fingerprint pass) — independent job chains, so build them on
    // concurrent threads and let the scheduler back-fill (guide-§2.6;
    // the writeGramIndex lesson applied to the gate's front half).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val ex = batch
      .join(corpusTexts.select(col(textCol)).distinct(), Seq(textCol),
        "left_semi")
      .select(col(idCol)).withColumn("exact_dup", lit(true))
    val jdF = Future(incrementalJaccardJoin(index, batch, idCol, textCol,
      tauNum, tauDen)
      .select(col("doc_a").as(idCol)).distinct()
      .withColumn("jac_dup", lit(true)))
    val sdF = Future(incrementalSimHash64Pairs(corpusSig, batch, idCol,
      textCol, maxDist)
      .select(col("doc_a").as(idCol)).distinct()
      .withColumn("sh_dup", lit(true)))
    val jd = Await.result(jdF, Duration.Inf)
    val sd = Await.result(sdF, Duration.Inf)
    batch.select(col(idCol))
      .join(ex, Seq(idCol), "left_outer")
      .join(jd, Seq(idCol), "left_outer")
      .join(sd, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("jac_dup"), lit(false)).as("jac_dup"),
        coalesce(col("sh_dup"), lit(false)).as("sh_dup"))
      .withColumn("admit",
        !col("exact_dup") && !col("jac_dup") && !col("sh_dup"))
  }

  /** [[ingestGate]] plus the STRING signal: edit-distance near-dup at
    * distance ≤ k on a short normalized key column (title, URL slug, text
    * prefix — full texts are the set joins' job; Levenshtein on kilobyte
    * strings discriminates nothing). Batch keys probe the FROZEN
    * [[Fuzzy.segmentIndex]] built over `editCorpus` (idCol, editCol) —
    * O(batch) like every other signal; `batch` must carry BOTH textCol
    * and editCol. Output adds `ed_dup`, and `admit` is the conjunction
    * of all four all-clears. Kept as a separate entry point so the
    * three-signal [[ingestGate]] (q118/q139) stays byte-stable.
    */
  def ingestGateWithEdit(index: GramIndex, corpusSig: DataFrame,
      corpusTexts: DataFrame, editIndex: DataFrame, editCorpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, editCol: String,
      k: Int, tauNum: Int = 1, tauDen: Int = 2,
      maxDist: Int = 3): DataFrame = {
    val base = ingestGate(index, corpusSig, corpusTexts, batch, idCol,
      textCol, tauNum, tauDen, maxDist)
    val ed = Fuzzy.incrementalEditDistanceJoin(editIndex, editCorpus,
      batch, idCol, editCol, k)
      .select(col("id_a").as(idCol)).distinct()
      .withColumn("__ed", lit(true))
    base.drop("admit")
      .join(ed, Seq(idCol), "left_outer")
      .withColumn("ed_dup", coalesce(col("__ed"), lit(false)))
      .drop("__ed")
      .withColumn("admit",
        !col("exact_dup") && !col("jac_dup") && !col("sh_dup") &&
          !col("ed_dup"))
  }

  /** Benchmark decontamination: ids of `corpus` documents that share ANY
    * distinct word n-gram with `benchmark` — the standard eval-leak check
    * before training. The benchmark side is tiny next to the corpus, so
    * its distinct n-gram set broadcasts and the corpus-side semi-join is
    * shuffle-free on the corpus (one scan + broadcast probe per row).
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val bg = ngramsExploded(benchmark, idCol, textCol, n)
      .select("g").distinct()
    ngramsExploded(corpus, idCol, textCol, n)
      .join(broadcast(bg), Seq("g"), "left_semi")
      .select(idCol).distinct()
  }

  /** Decontamination by EXCISION — the surgical complement of
    * [[contaminatedIds]]: instead of flagging (and losing) every corpus
    * document that shares an n-gram with the benchmark, cut the shared
    * token SPANS out and keep the rest. Every occurrence of a benchmark
    * n-gram marks tokens [pos, pos+n), overlapping marks merge
    * (gaps-and-islands, the [[repeatedSubstrSpans]] discipline), covered
    * tokens drop, and the document reassembles in order (q04 sorted
    * collect). Output: (id, clean_text, n_tokens, n_removed) for EVERY
    * corpus doc — untouched docs pass through with n_removed = 0.
    *
    * Scale: the benchmark n-gram set broadcasts (it is benchmark-sized,
    * not corpus-sized); the corpus contributes one posexplode scan probed
    * map-side, windows partition by doc id, and the span→position explode
    * is O(removed tokens). The token relation feeds both hit-detection
    * and reassembly — checkpointed once (the multi-use-subplan rule).
    */
  def decontaminateExcise(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    decontaminateExciseAgainstGrams(corpus,
      benchmarkGrams(benchmark, idCol, textCol, n), idCol, textCol, n)

  /** The benchmark's distinct n-gram set, as a one-column `g` relation —
    * the frozen structure streaming excision (ST11) probes per
    * micro-batch. Train-once: `localCheckpoint` (or persist) the result so
    * arriving batches never re-run the benchmark tokenize pass.
    */
  def benchmarkGrams(benchmark: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ngramsExploded(benchmark, idCol, textCol, n).select("g").distinct()

  /** [[decontaminateExcise]] kernel against a PRE-BUILT benchmark gram set
    * ([[benchmarkGrams]]): plain DataFrame → DataFrame, so the streaming
    * path (ST11) and its batch twin share one body and batch≡stream parity
    * is directly testable. `n` must equal the gram width `bg` was built
    * with (spans cover [pos, pos+n)).
    */
  def decontaminateExciseAgainstGrams(corpus: DataFrame, bg: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val tok = corpus
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("p0", "w")))
      .select(col(idCol), (col("p0") + 1).as("p"), col("w"))
      .localCheckpoint(eager = false)
    val wLead = Window.partitionBy(idCol).orderBy("p")
    val occ = (1 until n).foldLeft(tok.withColumn("g0", col("w"))) {
      (acc, k) => acc.withColumn(s"g$k", lead(col("w"), k).over(wLead))
    }
      .filter(col(s"g${n - 1}").isNotNull)
      .select(col(idCol), col("p"),
        concat_ws(" ", (0 until n).map(k => col(s"g$k")): _*).as("gram"))
    val hits = occ
      .join(broadcast(bg.withColumnRenamed("g", "gram")), Seq("gram"), "left_semi")
      .select(col(idCol), col("p").as("pos"), (col("p") + (n - 1)).as("fin"))
    val wPrev = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val covered = hits
      .withColumn("prev_end", max(col("fin")).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("start"), max(col("fin")).as("fin"))
      .select(col(idCol),
        explode(sequence(col("start"), col("fin"))).as("p"))
    tok
      .join(covered, Seq(idCol, "p"), "left_anti")
      .groupBy(idCol)
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
      // Right join on the totals: a FULLY-excised doc has no kept tokens
      // and would otherwise vanish — it must surface as ("", n, n).
      .join(tok.groupBy(idCol).agg(count(lit(1)).as("n_tokens")),
        Seq(idCol), "right")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Incremental near-dup detection: ids of `batch` documents whose minhash
    * signature collides with ANY `corpus` document on at least one LSH band
    * (plus the first band that matched). The at-scale dedup pattern for a
    * growing corpus — re-clustering 100 TB for every ingest is wasteful;
    * instead each new batch probes the existing corpus's band buckets and
    * only collisions proceed to verification/clustering.
    *
    * Scale: ONE left-semi join on (band_id, band_key) — the corpus side
    * never fans out into pairs (a batch doc landing in a 10k-member bucket
    * emits one row, not 10k). Bands are exploded into (band_id, key) rows
    * so each side's signature is computed in a single pass; a per-band
    * join loop would recompute the full tokenize+minhash pipeline once per
    * band per side (union/join branches share no subexpressions). Persist
    * the corpus-side key table once and this becomes probe-only per
    * ingest.
    */
  def incrementalDupIds(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, bands: Seq[Seq[String]]): DataFrame =
    bandKeyRows(minHashSignature(batch, idCol, textCol), idCol, bands)
      .join(corpusBandKeys(corpus, idCol, textCol, bands),
        Seq("band_id", "bk"), "left_semi")
      .groupBy(idCol).agg(min(col("band_id")).as("first_band"))

  /** Jaccard similarity of distinct word-n-gram sets between each doc and
    * its successor by id (a deterministic, oracle-friendly pairing).
    * General near-dup pairing composes [[lshCandidatePairs]] with this same
    * intersection/union arithmetic.
    */
  def consecutiveNgramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Set-per-doc formulation: aggregate each document's distinct n-grams
    // into ONE array row, then a single 1-row-per-doc self-join with
    // array_intersect. The exploded alternative (token-level self-join on
    // the n-gram string) shuffles |docs|·|ngrams| rows twice; this
    // shuffles |docs| set-rows once per side — ~5× less shuffle volume at
    // 1M docs, same results (docs without n-grams drop out of both).
    val sets = ngramsExploded(df, idCol, textCol, n)
      .withColumnRenamed(idCol, "doc_id")
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
    val ni = size(array_intersect(col("a.gs"), col("b.gs"))).cast("long")
    sets.alias("a")
      .join(sets.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("doc_a"),
        (col("a.doc_id") + 1).as("doc_b"),
        round(
          ni.cast("double") /
            (size(col("a.gs")) + size(col("b.gs")) - ni).cast("double"),
          6).as("jac"))
  }

  /** EXACT all-pairs Jaccard join over distinct word-n-gram sets: every
    * pair with Jaccard ≥ tauNum/tauDen — the exact complement of the LSH
    * pipeline above (no false negatives, no bands to tune). [[prefixJoin]]
    * with [[Jaccard]]. Output: (doc_a < doc_b, n_common, jac).
    */
  def jaccardSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, tauNum: Int = 1, tauDen: Int = 2): DataFrame =
    jaccardSimilarityJoin(gramIndex(docs, idCol, textCol, n), tauNum, tauDen)

  /** [[jaccardSimilarityJoin]] over a prebuilt [[GramIndex]] — a session
    * running several joins over one corpus builds the gram pipeline once.
    */
  def jaccardSimilarityJoin(index: GramIndex, tauNum: Int,
      tauDen: Int): DataFrame =
    prefixJoin(Jaccard, index, index, tauNum, tauDen)

  /** EXACT all-pairs COSINE join over tf-weighted word-n-gram vectors:
    * every pair with cos ≥ tauNum/tauDen. Jaccard sees sets, cosine sees
    * how OFTEN grams repeat, so it separates "same vocabulary" from "same
    * emphasis". [[prefixJoin]] with [[Cosine]].
    * Output: (doc_a < doc_b, dot, cos).
    */
  def cosineSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, tauNum: Int = 1, tauDen: Int = 2): DataFrame =
    cosineSimilarityJoin(gramIndex(docs, idCol, textCol, n), tauNum, tauDen)

  /** [[cosineSimilarityJoin]] over a prebuilt [[GramIndex]]. */
  def cosineSimilarityJoin(index: GramIndex, tauNum: Int,
      tauDen: Int): DataFrame =
    prefixJoin(Cosine, index, index, tauNum, tauDen)

  /** EXACT all-pairs CONTAINMENT join: every ordered pair a ≠ b with
    * |A∩B| / |A| ≥ tauNum/tauDen — quotes, excerpts and supersets that
    * Jaccard misses when |B| ≫ |A|. [[prefixJoin]] with [[Containment]].
    * Output: (doc_a, doc_b, n_common, containment).
    */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, tauNum: Int = 4, tauDen: Int = 5): DataFrame =
    containmentJoin(gramIndex(docs, idCol, textCol, n), tauNum, tauDen)

  /** [[containmentJoin]] over a prebuilt [[GramIndex]]. */
  def containmentJoin(index: GramIndex, tauNum: Int,
      tauDen: Int): DataFrame =
    prefixJoin(Containment, index, index, tauNum, tauDen)

  /** EXACT incremental Jaccard join: every (doc_a = batch doc, doc_b =
    * corpus doc) pair with Jaccard ≥ tauNum/tauDen, probing a FROZEN
    * corpus [[GramIndex]] — the exact complement of the [[incrementalDupIds]]
    * LSH probe, O(batch · matches) where re-running the all-pairs join per
    * ingest is O(corpus²). The batch is a [[batchSide]].
    * Output: (doc_a, doc_b, n_common, jac).
    */
  def incrementalJaccardJoin(index: GramIndex, batch: DataFrame,
      idCol: String, textCol: String, tauNum: Int, tauDen: Int): DataFrame =
    prefixJoin(Jaccard, batchSide(index, batch, idCol, textCol), index,
      tauNum, tauDen)

  /** The ingest-time [[containmentJoin]]: batch docs contained in frozen
    * corpus docs, as [[incrementalJaccardJoin]] probes.
    * Output: (doc_a = batch id, doc_b = corpus id, n_common, containment).
    */
  def incrementalContainmentJoin(index: GramIndex, batch: DataFrame,
      idCol: String, textCol: String, tauNum: Int = 4,
      tauDen: Int = 5): DataFrame =
    prefixJoin(Containment, batchSide(index, batch, idCol, textCol), index,
      tauNum, tauDen)

  /** The ingest-time [[cosineSimilarityJoin]], as [[incrementalJaccardJoin]]
    * probes. Output: (doc_a = batch id, doc_b = corpus id, dot, cos).
    */
  def incrementalCosineJoin(index: GramIndex, batch: DataFrame,
      idCol: String, textCol: String, tauNum: Int = 4,
      tauDen: Int = 5): DataFrame =
    prefixJoin(Cosine, batchSide(index, batch, idCol, textCol), index,
      tauNum, tauDen)

  /** Shared gram-pipeline relations over ONE corpus, the [[JoinSide]] of
    * every exact join: tokenize → n-gram → tf → rarest-first dictionary →
    * per-doc encodings, the EXPENSIVE relations materialized once
    * (`localCheckpoint` at dict/enc/sets; weighted and packed stay lazy —
    * see their doc), so a session running several joins pays the
    * dictionary pipeline once. All members are lazy: a jaccard-only caller
    * never runs the cosine norm windows. Dense gids make probe keys and
    * verify arrays primitive longs, and each doc's ascending gid array IS
    * its rarest-first prefix order — rarest-first makes probe buckets the
    * SMALLEST ones. The dictionary join carries NO broadcast hint: distinct
    * n-grams grow with the corpus (the 1M-doc soak dictionary already
    * breaks a forced broadcast build), so AQE decides.
    *
    * @param enc (__id, gid, w): dictionary-encoded gram occurrences with tf
    *            weights (w capped at 65535), checkpointed — every
    *            downstream relation derives from it.
    */
  class GramIndex private[ext] (docs: DataFrame, idCol: String,
      textCol: String, val n: Int) extends JoinSide {
    /** Deliberately NOT checkpointed (round-16 A/B): both `dict` and `enc`
      * consume it fully, but serializing the string-bearing tf relation
      * into the block manager measured strictly worse than recomputing the
      * (window-free, single-exchange) ngram pipeline twice — q86 5.87 →
      * 6.49 s, q103 7.29 → 7.84, q105 4.80 → 5.24 min-of-5 at sf0.1 with
      * the checkpoint. The multi-use rule (q86) applies to relations whose
      * REBUILD is expensive; after the element_at rewrite this one isn't.
      */
    private lazy val tf: DataFrame = tfOf(docs, idCol, textCol, n)
    /** (g, gid): the corpus vocabulary, dense gids ranked rarest-first so
      * ascending gid order = prefix order. A row_number() over an
      * unpartitioned Window would funnel every distinct n-gram through
      * ONE task: fine at sf0.1's vocabulary, a scale-killer against
      * billions of distinct grams at 100 TB — hence the distributed rank
      * in [[rankDictionary]]. Checkpointed: the all-pairs joins consume
      * it through `enc`, and the incremental batch join probes it again.
      */
    lazy val dict: DataFrame = rankDictionary(
      tf.groupBy("g").agg(count(lit(1)).as("gdf"))).localCheckpoint()
    lazy val enc: DataFrame = encOf(tf, dict).localCheckpoint()
    lazy val sets: DataFrame = setsOf(enc).localCheckpoint()
    /** Deliberately NOT checkpointed since round 17 (same rule as `tf`,
      * re-A/B'd after the round-16 rebuild-vs-serialize lesson): both
      * relations derive from the CHECKPOINTED `enc` in one window /
      * grouped pass, the cosine self-join's two probe references
      * canonicalize identically (exchange reuse), and the eager
      * checkpoint job + block-manager serialization of array-bearing
      * rows measured strictly worse than recomputing — interleaved
      * QBench min-of-3 ×3 at sf0.1: q103 5.30 → 4.44 s, q114
      * 5.67 → 4.73, q116 7.95 → 4.02 (the store's parquet write IS a
      * materialization; the checkpoint doubled it). The multi-use rule
      * (q86) applies to relations whose REBUILD is expensive — after the
      * enc checkpoint these aren't.
      */
    lazy val weighted: DataFrame = weightedOf(enc)
    lazy val packed: DataFrame = packedOf(weighted)

    /** A new [[GramIndex]] with `batch` documents APPENDED without
      * rebuilding the corpus pipeline — the index-maintenance analog of
      * [[graft.ext.IvfPq.encodeBatch]]: existing grams keep their gids
      * (the dictionary is FROZEN), batch-new grams rank rarest-first
      * among themselves and take ids AFTER the corpus order (maxGid +
      * rank), and only batch-side relations are computed — the corpus
      * enc/sets/weighted/packed checkpoints are reused as-is, so the
      * cost is O(batch), not O(corpus). Every exact join over the
      * appended index stays EXACT: the prefix/positional filters need
      * only a TOTAL, consistent gram order (ascending gid), never the
      * rarest-first heuristic itself — appended-new grams sit at the
      * order's tail, which merely weakens pruning until a periodic full
      * rebuild re-ranks. Batch-side relations checkpoint LAZILY. Caller
      * contract: batch ids are disjoint from corpus ids (not checked).
      */
    def append(batch: DataFrame, idCol: String, textCol: String): GramIndex = {
      val self = this
      val bTf = tfOf(batch, idCol, textCol, n).localCheckpoint()
      val base = self.dict.agg(coalesce(max(col("gid")), lit(0L)).as("__base"))
      val newDict = rankDictionary(
        bTf.join(self.dict, Seq("g"), "left_anti")
          .groupBy("g").agg(count(lit(1)).as("gdf")))
        .crossJoin(broadcast(base))
        .select(col("g"), (col("gid") + col("__base")).as("gid"))
      val fullDict = self.dict.unionByName(newDict).localCheckpoint()
      val bEnc = encOf(bTf, fullDict).localCheckpoint()
      val bWeighted = weightedOf(bEnc).localCheckpoint(false)
      new GramIndex(batch, idCol, textCol, n) {
        override lazy val dict: DataFrame = fullDict
        override lazy val enc: DataFrame = self.enc.unionByName(bEnc)
        override lazy val sets: DataFrame =
          self.sets.unionByName(setsOf(bEnc).localCheckpoint(false))
        override lazy val weighted: DataFrame =
          self.weighted.unionByName(bWeighted)
        override lazy val packed: DataFrame =
          self.packed.unionByName(packedOf(bWeighted).localCheckpoint(false))
      }
    }
  }

  /** Build the shared [[GramIndex]] for a corpus (see its doc). */
  def gramIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2): GramIndex = new GramIndex(docs, idCol, textCol, n)

  /** A [[GramIndex]] whose relations read straight from
    * [[IndexStore.writeGramIndex]] output — the parquet files ARE the
    * materialization, so nothing recomputes or re-checkpoints; `weighted`
    * derives from the loaded enc on first cosine use (the one window pass
    * the at-rest form deliberately doesn't store).
    */
  private[ext] def loadedGramIndex(spark: SparkSession, path: String,
      nGram: Int): GramIndex =
    new GramIndex(null, null, null, nGram) {
      override lazy val dict: DataFrame = spark.read.parquet(s"$path/dict")
      override lazy val enc: DataFrame = spark.read.parquet(s"$path/enc")
      override lazy val sets: DataFrame = spark.read.parquet(s"$path/sets")
      override lazy val packed: DataFrame = spark.read.parquet(s"$path/packed")
    }

  /** One side of a [[prefixJoin]]: per-document relations keyed `__id`,
    * all under ONE ascending-gid gram order — a [[GramIndex]] or a
    * [[batchSide]] encoded against one.
    */
  sealed trait JoinSide {
    /** (__id, gs, nn): sorted distinct-gid array per doc (set measures). */
    def sets: DataFrame
    /** (__id, gid, w, sufsq, n2): per-occurrence suffix and total squared
      * norms (cosine probes).
      */
    def weighted: DataFrame
    /** (__id, pk, n2): packed `gid·2^16 + w` arrays (cosine verify). */
    def packed: DataFrame
  }

  /** What the exact similarity measures do NOT share in [[prefixJoin]]:
    * probe rows, index rows, the self-join pair rule, the candidate
    * filter, and the verify kernel with its integer threshold and score.
    * Candidate filters read the probe side as `a.` and the index side as
    * `b.`; verify columns are `doc_a`/`doc_b` plus each side's
    * [[verifyRows]] aliased with the side letter.
    */
  private[graft] sealed trait Measure {
    /** The probe side's rows: only these grams may start a candidate. */
    def probes(s: JoinSide, tauNum: Int, tauDen: Int): DataFrame
    /** The index side's rows; the probe prefix unless overridden. */
    def index(s: JoinSide, tauNum: Int, tauDen: Int): DataFrame =
      probes(s, tauNum, tauDen)
    /** The self-join pair rule: each unordered pair once. */
    def selfPair(a: Column, b: Column): Column = a < b
    def filter(tauNum: Int, tauDen: Int): Seq[Column]
    def verifyRows(s: JoinSide, x: String): DataFrame
    /** (column name, exact kernel) evaluated on each distinct candidate. */
    def kernel: (String, Column)
    def accept(tauNum: Int, tauDen: Int): Column
    def score: Column
  }

  /** The set measures. Probes are the rarest-first prefix of
    * `|A| − ⌈τ·|A|⌉ + 1` grams: a qualifying pair shares ≥ ⌈τ·|A|⌉ grams
    * and the suffix holds one fewer, so a match lands in the prefix under
    * the shared order. Verify is [[graft.functions.SortedIntersectCount]],
    * a codegen'd two-pointer merge over primitive gid arrays (a per-pair
    * boxed-string hash set was ~90% of the runtime before: 102 s → ~8 s at
    * sf0.1), with an INTEGER threshold `n_common·tauDen ≥ tauNum·denom` —
    * no float boundary to drift across engines.
    *
    * Positional filter (PPJoin): a pair matching at prefix ranks (pa, pb)
    * shares at most `1 + min(na−pa−1, nb−pb−1)` grams from there on, exact
    * at the smallest common gram — requiring it to reach the overlap
    * threshold prunes frequent-gram matches without false negatives.
    */
  private[graft] sealed abstract class SetMeasure(scoreName: String)
      extends Measure {
    /** The score's denominator: |A∪B| for Jaccard, |A| for containment. */
    protected def denom: Column
    protected def bestOverlap: Column = lit(1) +
      least(col("a.nn") - col("a.pos") - 1, col("b.nn") - col("b.pos") - 1)
    def probes(s: JoinSide, tauNum: Int, tauDen: Int): DataFrame =
      s.sets.select(col("__id"), col("nn"),
        posexplode(slice(col("gs"), lit(1), prefixLen(tauNum, tauDen)))
          .as(Seq("pos", "gid")))
    def verifyRows(s: JoinSide, x: String): DataFrame =
      s.sets.select(col("__id").as(s"doc_$x"), col("gs").as(s"g$x"),
        col("nn").as(s"n$x"))
    def kernel: (String, Column) = "n_common" ->
      graft.functions.VectorExpressions.sortedIntersectCount(
        col("ga"), col("gb"))
    def accept(tauNum: Int, tauDen: Int): Column =
      col("n_common") * tauDen >= denom * tauNum
    def score: Column =
      round(col("n_common").cast("double") / denom.cast("double"), 6)
        .as(scoreName)
  }

  /** Jaccard (AllPairs/PPJoin, Bayardo et al. WWW'07): both sides probe
    * their prefix; the length filter `τ·max ≤ min` prunes
    * size-incompatible pairs, and the positional bound must reach the
    * equivalent-overlap threshold `tauNum·(na+nb)/(tauNum+tauDen)`.
    */
  private[graft] case object Jaccard extends SetMeasure("jac") {
    protected def denom: Column = col("na") + col("nb") - col("n_common")
    def filter(tauNum: Int, tauDen: Int): Seq[Column] = Seq(
      col("a.nn") * tauNum <= col("b.nn") * tauDen,
      col("b.nn") * tauNum <= col("a.nn") * tauDen,
      bestOverlap * (tauNum + tauDen) >= (col("a.nn") + col("b.nn")) * tauNum)
  }

  /** Containment |A∩B| / |A|: only the contained side probes its prefix;
    * the container side indexes its FULL gram list (containment does not
    * bound B's extra mass, so B gets no prefix) and a self-join keeps
    * both orders of a pair (`a ≠ b`). The size filter
    * `|B|·tauDen ≥ tauNum·|A|` prunes containers too small to hold the
    * overlap; the positional bound must reach ⌈τ·na⌉.
    */
  private[graft] case object Containment extends SetMeasure("containment") {
    protected def denom: Column = col("na")
    override def index(s: JoinSide, tauNum: Int, tauDen: Int): DataFrame =
      s.sets.select(col("__id"), col("nn"),
        posexplode(col("gs")).as(Seq("pos", "gid")))
    override def selfPair(a: Column, b: Column): Column = a =!= b
    def filter(tauNum: Int, tauDen: Int): Seq[Column] = Seq(
      col("b.nn") * tauDen >= col("a.nn") * tauNum,
      bestOverlap * tauDen >= col("a.nn") * tauNum)
  }

  /** Cosine over tf weights (weighted AllPairs/APSS, Bayardo et al.
    * WWW'07). Probes: with grams rarest-first, a position stays in the
    * prefix while `sufsq·tauDen² ≥ tauNum²·‖a‖²` — sharing NO prefix
    * feature means dot ≤ ‖suf_a‖·‖b‖ < τ·‖a‖·‖b‖.
    *
    * Positional filter (Cauchy-Schwarz): every common feature sits
    * at-or-after the SMALLEST common gram in both lists, so dot² ≤
    * sufsq_a·sufsq_b there; requiring sufsq_a·sufsq_b·tauDen² ≥
    * tauNum²·n2a·n2b keeps frequent-gram buckets from fanning out
    * quadratically. In DOUBLE with a 1e-9 relaxation: the four-long product
    * can overflow, and a prune may only be conservative.
    *
    * Verify: ONE packed primitive array per vector (`gid·2^16 +
    * min(tf, 65535)`, so sorting packed values sorts keys) merged by the
    * codegen'd [[graft.functions.PackedWeightedDot]]. Dot and squared
    * norms are exact longs; `tauDen²·dot² ≥ tauNum²·‖a‖²·‖b‖²` reaches
    * ~2^66·τ², past a signed long (a silent wraparound, or an ANSI throw,
    * at exactly the pairs nearest the threshold), so it compares in
    * DECIMAL(38,0) — on distinct candidates only. The score divides once
    * by `sqrt` of an exact integer product (bit-identical on both engines;
    * the DuckDB twin compares in HUGEINT).
    */
  private[graft] case object Cosine extends Measure {
    def probes(s: JoinSide, tauNum: Int, tauDen: Int): DataFrame =
      s.weighted
        .filter(col("sufsq") * (tauDen.toLong * tauDen) >=
          col("n2") * (tauNum.toLong * tauNum))
        .select(col("__id"), col("gid"), col("sufsq"), col("n2"))
    def filter(tauNum: Int, tauDen: Int): Seq[Column] = Seq(
      col("a.sufsq").cast("double") * col("b.sufsq") *
        lit(tauDen.toDouble * tauDen) >=
        col("a.n2").cast("double") * col("b.n2") *
          lit(tauNum.toDouble * tauNum * (1.0 - 1e-9)))
    def verifyRows(s: JoinSide, x: String): DataFrame =
      s.packed.select(col("__id").as(s"doc_$x"), col("pk").as(s"p$x"),
        col("n2").as(s"n${x}2"))
    def kernel: (String, Column) = "dot" ->
      graft.functions.VectorExpressions.packedWeightedDot(
        col("pa"), col("pb"))
    def accept(tauNum: Int, tauDen: Int): Column =
      col("dot").cast("decimal(38,0)") * col("dot") *
        lit(tauDen.toLong * tauDen) >=
        col("na2").cast("decimal(38,0)") * col("nb2") *
          lit(tauNum.toLong * tauNum)
    def score: Column =
      round(col("dot").cast("double") /
        sqrt((col("na2") * col("nb2")).cast("double")), 6).as("cos")
  }

  /** Probe-prefix length `nn − ⌈τ·nn⌉ + 1` of a sets relation. */
  private def prefixLen(tauNum: Int, tauDen: Int): Column = (col("nn") -
    floor((col("nn") * tauNum + (tauDen - 1)) / lit(tauDen.toDouble)) + 1)
    .cast("int")

  /** The EXACT prefix-filter similarity join behind all six public joins:
    * `a` probes, `b` is indexed; `a eq b` is the all-pairs self-join
    * (adds the measure's pair rule), otherwise `a` is a batch probing a
    * frozen corpus. Probe → gid equi-join with the measure's filters →
    * distinct pairs → the measure's verify.
    *
    * Distinct-BEFORE-verify, deliberately: the tempting alternative —
    * skip the pair-level distinct, verify every raw prefix match, dedup
    * survivors — was measured strictly worse (q86 5.9 s → 12.2 s, q103
    * 7.0 s → 16.4 s at sf0.1): the verification joins are sort-merge (the
    * per-doc array relation is tens of MB — past the broadcast
    * threshold), so every raw match would be SORTED TWICE (once per
    * verify join); the distinct's one hash exchange prunes duplication
    * factor × (2 sorts + 2 kernel evals) and wins whenever duplication
    * > ~1.1×. At τ=1/2 a near-dup pair shares ~half its grams as probes.
    */
  private def prefixJoin(m: Measure, a: JoinSide, b: JoinSide, tauNum: Int,
      tauDen: Int): DataFrame = {
    val (kName, kernel) = m.kernel
    candidates(m, a, b, tauNum, tauDen)
      .join(m.verifyRows(a, "a"), "doc_a")
      .join(m.verifyRows(b, "b"), "doc_b")
      .withColumn(kName, kernel)
      .filter(m.accept(tauNum, tauDen))
      .select(col("doc_a"), col("doc_b"), col(kName), m.score)
  }

  /** The distinct (doc_a, doc_b) candidate pairs of [[prefixJoin]] —
    * exposed so the soak harness can assert the prefix filter's fan-out
    * bound directly (candidate pairs must scale with true duplicates, not
    * quadratically) and the doc_a exchange's partition balance.
    */
  private[graft] def candidates(m: Measure, a: JoinSide, b: JoinSide,
      tauNum: Int, tauDen: Int): DataFrame = {
    val pairRule =
      if (a eq b) Seq(m.selfPair(col("a.__id"), col("b.__id"))) else Nil
    probeRows(m, a, tauNum, tauDen).alias("a")
      .join(atFullWidth("gid")(m.index(b, tauNum, tauDen)).alias("b"),
        ((col("a.gid") === col("b.gid")) +:
          (pairRule ++ m.filter(tauNum, tauDen))).reduce(_ && _))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .transform(distinctPairs("doc_a"))
  }

  /** The pinned probe side of [[prefixJoin]] — the one place every join
    * and accessor validates its threshold. Both join inputs are pinned to
    * full width ([[atFullWidth]]): the gid exchange the join would insert
    * anyway, but at a user-specified partition count AQE cannot coalesce —
    * the merge-join's O(Σ bucket²) pair fan-out is CPU-bound, and AQE's
    * byte heuristic (probe rows are a few compressed MB) was squeezing it
    * onto a handful of tasks (the [[distinctPairs]] measurement). Same
    * shuffle bytes, full parallelism. Exposed so the soak harness can
    * assert the pinned exchange's partition balance.
    */
  private[graft] def probeRows(m: Measure, side: JoinSide, tauNum: Int,
      tauDen: Int): DataFrame = {
    require(tauNum >= 1 && tauNum <= tauDen,
      s"$m prefix join: need 0 < tauNum/tauDen <= 1, got $tauNum/$tauDen")
    atFullWidth("gid")(m.probes(side, tauNum, tauDen))
  }

  /** A batch encoded under a corpus index's gram order: the probe side of
    * the incremental joins. Lazy, so a Jaccard-only caller never runs the
    * cosine windows. Batch ids must be disjoint from corpus ids.
    *
    * `sets` — negative unseen gids: the prefix-filter lemma needs ONE total
    * order on both sides. Batch grams unseen in the corpus never match but
    * still occupy prefix slots, so they take NEGATIVE ids (a batch-local
    * [[rankDictionary]] rank, negated): rarest of all, the same for every
    * batch doc, and corpus arrays stay byte-identical. The merge-intersect
    * counts equal ids only, so they never inflate the overlap.
    *
    * `weighted`/`packed` — the full-norm rule: [[graft.functions.PackedWeightedDot]]
    * compares keys UNSIGNED, so a negative gid would break its merge.
    * Unseen grams leave the vectors and the probe order, but their squared
    * weights STAY in ‖a‖² (summed before the vocabulary join): a
    * mostly-novel doc is not similar merely because its corpus-known part
    * matches. The prefix proof survives: at the smallest common gram g*,
    * dot ≤ √(sufsq_a(g*))·‖b‖ with sufsq over seen grams only.
    */
  private def batchSide(index: GramIndex, batch: DataFrame, idCol: String,
      textCol: String): JoinSide = new JoinSide {
    lazy val sets: DataFrame = {
      val bGrams = ngramsExploded(batch, idCol, textCol, index.n)
        .select(col(idCol).as("__id"), col("g"))
      val unseenDict = rankDictionary(
        bGrams.join(index.dict, Seq("g"), "left_anti")
          .select("g").distinct().withColumn("gdf", lit(0L)))
        .select(col("g"), (-col("gid")).as("gid"))
      setsOf(bGrams.join(index.dict.unionByName(unseenDict), "g"))
        .localCheckpoint()
    }
    lazy val weighted: DataFrame = {
      val tf = ngramRows(batch, idCol, textCol, index.n)
        .groupBy(col(idCol).as("__id"), col("g"))
        .agg(least(count(lit(1)), lit(65535L)).as("w"))
      val n2 = tf.groupBy("__id").agg(sum(col("w") * col("w")).as("n2"))
      weightedOf(tf.join(index.dict, "g")
        .select(col("__id"), col("gid"), col("w")), Some(n2))
        .localCheckpoint()
    }
    lazy val packed: DataFrame = packedOf(weighted)
  }

  /** (__id, g, w): per-doc n-gram occurrence counts. */
  private def tfOf(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = ngramRows(docs, idCol, textCol, n)
    .groupBy(col(idCol).as("__id"), col("g"))
    .agg(count(lit(1)).as("w"))

  /** (__id, gid, w): tf rows encoded through a dictionary, w capped at
    * 65535 (the packed-array weight width).
    */
  private def encOf(tf: DataFrame, dict: DataFrame): DataFrame =
    tf.join(dict, "g")
      .select(col("__id"), col("gid"), least(col("w"), lit(65535L)).as("w"))

  /** [[JoinSide.sets]] of (__id, gid) rows. */
  private def setsOf(enc: DataFrame): DataFrame = enc
    .groupBy("__id")
    .agg(array_sort(collect_list(col("gid"))).as("gs"))
    .select(col("__id"), col("gs"), size(col("gs")).cast("long").as("nn"))

  /** [[JoinSide.weighted]] of (__id, gid, w) rows: the suffix squared norm
    * from each position (rarest-first order) and the full squared norm —
    * one doc-keyed window sort serves both — unless `n2` (__id, n2)
    * supplies the full norm.
    */
  private def weightedOf(enc: DataFrame,
      n2: Option[DataFrame] = None): DataFrame = {
    val wOrd = Window.partitionBy("__id").orderBy("gid")
    val suf = enc.withColumn("sufsq", sum(col("w") * col("w"))
      .over(wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    n2.fold(suf.withColumn("n2", sum(col("w") * col("w"))
      .over(Window.partitionBy("__id"))))(suf.join(_, "__id"))
  }

  /** [[JoinSide.packed]] of a weighted relation. */
  private def packedOf(weighted: DataFrame): DataFrame = weighted
    .groupBy("__id")
    .agg(array_sort(collect_list(col("gid") * 65536L + col("w"))).as("pk"),
      min(col("n2")).as("n2"))

  /** Exact-substring dedup (the ExactSubstr shape of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): find
    * every token position covered by an `l`-token sequence that occurs at
    * least `minCount` times ANYWHERE in the corpus (including twice in
    * one document), and merge the per-document hit positions into maximal
    * spans. Output: one row per affected document — span count, removed
    * token count, and the span list as "start-end" 1-based inclusive
    * intervals (the removal plan a rewrite pass would apply).
    *
    * Scale shape: gram occurrences explode with stride 1 (the q67 slice
    * pattern — rows scale with token count, no per-token lambdas); the
    * global occurrence count is a window over the gram key, so the count
    * attaches WITHOUT a join back (one shuffle keyed by gram; at 100 TB
    * swap the gram string for xxhash64(gram) as the shuffle key — the
    * grouping is identical, the wire format 8 bytes). Span merging is
    * gaps-and-islands: a running max of span ends over the doc-keyed
    * window, island breaks where a hit starts past every previous end —
    * both windows share one doc-keyed sort, and only duplicate-gram HITS
    * reach them, never the full token stream.
    */
  def repeatedSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
      l: Int = 8, minCount: Long = 2L): DataFrame = {
    val a = tokens(col(textCol))
    val occ = docs
      .select(col(idCol), a.as("a"), size(a).as("n"))
      .filter(col("n") >= l)
      .select(col(idCol),
        posexplode(sequence(lit(1), col("n") - (l - 1))).as(Seq("p", "pos")),
        col("a"))
      .select(col(idCol), col("pos"),
        array_join(slice(col("a"), col("pos"), lit(l)), " ").as("gram"))
    val wGram = Window.partitionBy("gram")
    val hits = occ
      .withColumn("g_cnt", count(lit(1)).over(wGram))
      .filter(col("g_cnt") >= minCount)
      .select(col(idCol), col("pos"), (col("pos") + (l - 1)).as("fin"))
    val wPrev = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    hits
      .withColumn("prev_end", max(col("fin")).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("start"), max(col("fin")).as("fin"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("fin") - col("start") + 1).as("n_removed"),
        concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("start"), col("fin")))),
            x => concat_ws("-", x.getField("start"), x.getField("fin"))))
          .as("spans"))
  }
}
