package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: sign-bit bucket
  * LSH — block candidates by the sign pattern of the leading dimensions so
  * the self-join shuffles on a small key instead of materializing O(n²)
  * pairs. All vector math runs through the native codegen'd DotProduct
  * expression (no UDFs, no interpreted lambdas, no driver collect).
  */
object Similarity {

  /** Elementwise float→double so downstream math is double-precision. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential (left-to-right) dot product as a native codegen'd Catalyst
    * expression (graft.functions.DotProduct). The built-in higher-order
    * route — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — evaluates
    * interpreted lambdas per element and allocates an intermediate array
    * per call; on an all-pairs join that is the entire runtime. Fold order
    * is identical, so results are bit-equal.
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotNative(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The exact re-rank every single-query top-k ends in: the `k`
    * `candidates` rows with the highest cosine between `vec` and `query`,
    * rounded to 6 places (`cos_r`), ties broken by `idCol` — a total
    * order, so the answer is deterministic across engines. Each search
    * only chooses the candidates: brute force every row, the sign-bucket
    * LSH one bucket, IVF the probed cells, PQ and IVF-PQ the ADC
    * shortlist.
    */
  def cosineTopK(candidates: DataFrame, idCol: String, vec: Column,
      query: Column, k: Int): DataFrame =
    candidates.select(col(idCol), round(cosine(vec, query), 6).as("cos_r"))
      .orderBy(desc("cos_r"), col(idCol))
      .limit(k)

  /** Exact top-k by cosine against the single query vector in `queryDf`
    * (one row, column `qv`); the query side is broadcast.
    */
  def bruteForceTopK(emb: DataFrame, vecCol: String, idCol: String,
      queryDf: DataFrame, k: Int): DataFrame =
    cosineTopK(emb.crossJoin(broadcast(queryDf)), idCol,
      asDouble(col(vecCol)), col("qv"), k)

  /** Sign-pattern bucket of the first `bits` dimensions: Σ 2^i·[v_i > 0].
    * A deterministic LSH for cosine similarity (random-hyperplane LSH with
    * axis-aligned planes).
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) > 0.0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN: candidates share the query's sign bucket; exact cosine rescoring
    * within the bucket. At 100 TB the bucket join replaces the O(n) scan of
    * brute force with a partition-pruned equi-join.
    */
  def bucketedTopK(emb: DataFrame, vecCol: String, idCol: String,
      queryDf: DataFrame, bits: Int, k: Int): DataFrame = {
    val bucketed = emb.withColumn("bucket", signBucket(col(vecCol), bits))
    val q = queryDf.withColumn("qbucket", signBucket(col("qv"), bits))
    cosineTopK(bucketed.join(broadcast(q), col("bucket") === col("qbucket")),
      idCol, asDouble(col(vecCol)), asDouble(col("qv")), k)
  }

  /** k-NN join: for EVERY row of `queries` (id `qidCol`, vector `qvCol`),
    * the top-k `candidates` rows by cosine — the batch retrieval primitive
    * (single-query top-k is [[bruteForceTopK]]). The query side is
    * broadcast (m ≪ n); per-row candidate norms are computed once before
    * the m×n expansion; ranking is a window on the ROUNDED score with the
    * candidate id as total-order tiebreak (deterministic across engines).
    * Output columns: `qidCol`, `idCol`, `cos_r`, `rnk`. At 100 TB compose
    * with [[signBucket]] blocking to shrink m×n to per-bucket candidates
    * before the rank.
    */
  def knnJoin(candidates: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int,
      qidCol: String = "qid", qvCol: String = "qv"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(idCol != qidCol,
      s"knnJoin: candidate id column '$idCol' collides with query id column")
    Seq(idCol, qidCol).foreach(c =>
      require(c != "cos_r" && c != "rnk",
        s"knnJoin: id column '$c' collides with an output column (cos_r/rnk)"))
    // Internal working names are deliberately distinct from both sides'
    // user-supplied names so a candidate column named e.g. "qv" can't
    // shadow the query vector after the crossJoin.
    val c = candidates
      .select(col(idCol).as("__cid"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cnrm", sqrt(dot(col("__cv"), col("__cv"))))
    val q = queries.select(col(qidCol).as("__qid"), asDouble(col(qvCol)).as("__qv"))
      .withColumn("__qnrm", sqrt(dot(col("__qv"), col("__qv"))))
    val w = Window.partitionBy("__qid").orderBy(desc("cos_r"), col("__cid"))
    c.crossJoin(broadcast(q))
      .select(col("__qid"), col("__cid"),
        round(dot(col("__cv"), col("__qv")) / (col("__cnrm") * col("__qnrm")), 6).as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("__qid").as(qidCol), col("__cid").as(idCol),
        col("cos_r"), col("rnk"))
  }

  /** Contrastive pair mining — the batch that a contrastive/embedding
    * trainer consumes: for every anchor, the `kPos` nearest SAME-label
    * candidates (positives) and the `kNeg` nearest DIFFERENT-label
    * candidates (hard negatives — the near-misses that carry the
    * gradient; random negatives are trivially separable). One relation
    * out: (qidCol, idCol, is_pos, cos_r, rnk), rnk per (anchor, side).
    *
    * Scale: the [[knnJoin]] shape — anchors broadcast (a training batch
    * is small next to the corpus), the candidate side scans once, one
    * codegen'd dot per pair with per-row norms precomputed, and the
    * top-k window plans a partial WindowGroupLimit before the exchange
    * so only k·anchors·2 rows shuffle. Swap the crossJoin for an
    * IVF/PQ shortlist when the candidate corpus outgrows brute force.
    */
  def contrastivePairs(candidates: DataFrame, anchors: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      kPos: Int, kNeg: Int,
      qidCol: String = "qid"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(idCol != qidCol,
      s"contrastivePairs: candidate id column '$idCol' collides with anchor id")
    val c = candidates
      .select(col(idCol).as("__cid"), col(labelCol).as("__cl"),
        asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cnrm", sqrt(dot(col("__cv"), col("__cv"))))
    val q = anchors
      .select(col(idCol).as("__qid"), col(labelCol).as("__ql"),
        asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qnrm", sqrt(dot(col("__qv"), col("__qv"))))
    val w = Window.partitionBy(col("__qid"), col("is_pos"))
      .orderBy(desc("cos_r"), col("__cid"))
    c.crossJoin(broadcast(q))
      .select(col("__qid"), col("__cid"),
        (col("__cl") === col("__ql")).as("is_pos"),
        round(dot(col("__cv"), col("__qv")) / (col("__cnrm") * col("__qnrm")), 6)
          .as("cos_r"))
      .withColumn("rnk", row_number().over(w))
      // The literal bound keeps Spark 4's partial WindowGroupLimit
      // applicable (it matches `rank <= literal` conjuncts only); the
      // CASE refines per side when kPos != kNeg.
      .filter(col("rnk") <= math.max(kPos, kNeg) &&
        col("rnk") <= when(col("is_pos"), kPos).otherwise(kNeg))
      .select(col("__qid").as(qidCol), col("__cid").as(idCol),
        col("is_pos"), col("cos_r"), col("rnk"))
  }

  /** MMR diversified re-ranking (Maximal Marginal Relevance, Carbonell &
    * Goldstein SIGIR'98): greedily pick k of the shortlist maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s)` — relevance traded
    * against redundancy, the standard retrieval-diversity pass between
    * ANN shortlist and prompt assembly. λ=1 degenerates to plain top-k.
    *
    * Scale split: the SHORTLIST is distributed (one scan, codegen'd dot,
    * TakeOrderedAndProject top-`shortlist`); the greedy selection is
    * inherently sequential in k, so it runs on the driver over the
    * collected shortlist — bounded at `shortlist` rows by construction
    * (the q74/q91 certificate-collect discipline, not a corpus collect).
    * Ties (equal MMR score) break by id for determinism.
    *
    * Output: (idCol, cos_r, rnk) — rnk is selection order, 1-based.
    */
  def mmrRerank(candidates: DataFrame, vecCol: String, idCol: String,
      queryVec: Array[Double], shortlist: Int, k: Int,
      lambda: Double): DataFrame = {
    require(k <= shortlist, s"mmrRerank: k=$k > shortlist=$shortlist")
    require(lambda >= 0.0 && lambda <= 1.0, s"mmrRerank: lambda=$lambda")
    val spark = candidates.sparkSession
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val qlit = array(queryVec.map(lit(_)): _*)
    val short = candidates
      .select(col(idCol).as("__cid"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cnrm", sqrt(dot(col("__cv"), col("__cv"))))
      .withColumn("cos_r",
        round(dot(col("__cv"), qlit) / (col("__cnrm") * lit(qn)), 6))
      .orderBy(desc("cos_r"), col("__cid"))
      .limit(shortlist)
      .collect()
      // tuple = (id, vec, cos_r, norm) — cos_r is column 3, __cnrm column 2
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(3),
        r.getDouble(2)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    def cos(a: (Long, Array[Double], Double, Double),
        b: (Long, Array[Double], Double, Double)): Double = {
      var s = 0.0
      var i = 0
      while (i < a._2.length) { s += a._2(i) * b._2(i); i += 1 }
      s / (a._4 * b._4)
    }
    while (selected.size < math.min(k, short.length)) {
      val sel = short.filter(c => chosen.contains(c._1))
      val best = short.iterator.filterNot(c => chosen.contains(c._1))
        .map { c =>
          val red = if (sel.isEmpty) 0.0 else sel.map(s => cos(c, s)).max
          (lambda * c._3 - (1 - lambda) * red, -c._1, c)
        }
        .maxBy(t => (t._1, t._2))._3
      chosen += best._1
      selected += ((best._1, best._3))
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, c), i) => (id, c, i + 1) }
      .toSeq.toDF(idCol, "cos_r", "rnk")
  }

  /** All pairs (a < b) with rounded cosine ≥ threshold — embedding-space
    * near-duplicate detection. Brute force here; compose with
    * [[signBucket]] blocking for the at-scale variant.
    *
    * Per-pair cost is ONE native codegen'd dot product: per-row norms are
    * precomputed on the n-row side before the O(n²) pair join
    * (sqrt(dot(v,v)) once per row, not per pair — same doubles, same
    * multiply order, so cosines are bit-identical to the naive form).
    */
  def nearDupPairs(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    e.alias("x").join(e.alias("y"), col("x.vid") < col("y.vid"))
      .select(
        col("x.vid").as("vec_a"), col("y.vid").as("vec_b"),
        round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), 6)
          .as("cos_r"))
      .filter(col("cos_r") >= threshold)
  }

  /** Exact all-pairs cosine (same contract as [[nearDupPairs]]: pairs
    * a < b with rounded cosine ≥ threshold) via block-pair decomposition.
    *
    * The naive form above plans a nested-loop join that MATERIALIZES every
    * joined row — two 64-dim double arrays copied per pair, ~1 KB × n²/2 —
    * before one dot product reads them; at n = 2000 that copy stream is
    * the entire runtime. Here each vector is assigned a block
    * `vid mod B`, shuffled once to every block PAIR it participates in
    * (n·B rows total, vs n²/2 joined rows), and each of the B(B+1)/2
    * group-tasks runs a tight primitive-array loop over its two resident
    * blocks — the one genuine mapGroups kernel in the library (a GEMM-like
    * inner loop no relational plan expresses without the row-copy tax).
    *
    * Scale: shuffle volume n·B vectors; per-task memory 2·(n/B) vectors;
    * pick B ≈ n·d·8B / (target block bytes) so a block pair fits an
    * executor core. Bit-parity with [[nearDupPairs]] (pinned by spec):
    * same element-order dot, same `x/(na·nb)` double ops, and the same
    * HALF_UP decimal rounding Spark's `round(_, 6)` applies; pairs whose
    * raw cosine is below `threshold - 1e-6` skip the decimal conversion
    * (round(·,6) moves a value by at most 5e-7, so they cannot pass).
    */
  def nearDupPairsBlocked(emb: DataFrame, vecCol: String, idCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val bCount = blocks
    require(bCount >= 1, s"nearDupPairsBlocked: blocks must be >= 1, got $bCount")
    val base = emb
      .select(col(idCol).cast("long").as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .as[(Long, Array[Double], Double)]
    // Replicate each vector to every block pair containing its block: LEFT
    // role in (b, j) for j ≥ b, RIGHT role in (i, b) for i < b. Every
    // unordered vector pair lands in exactly one group.
    val keyed = base.flatMap { case (vid, v, nrm) =>
      val b = (((vid % bCount) + bCount) % bCount).toInt
      val asLeft = (b until bCount).map(j => (b, j, true, vid, v, nrm))
      val asRight = (0 until b).map(i => (i, b, false, vid, v, nrm))
      asLeft ++ asRight
    }
    val out = keyed.groupByKey(t => (t._1, t._2)).flatMapGroups {
      (key: (Int, Int), it: Iterator[(Int, Int, Boolean, Long, Array[Double], Double)]) =>
        val (bi, bj) = key
        val lIdB = scala.collection.mutable.ArrayBuffer.empty[Long]
        val lVB = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val lNB = scala.collection.mutable.ArrayBuffer.empty[Double]
        val rIdB = scala.collection.mutable.ArrayBuffer.empty[Long]
        val rVB = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val rNB = scala.collection.mutable.ArrayBuffer.empty[Double]
        it.foreach { case (_, _, isLeft, vid, v, nrm) =>
          if (isLeft) { lIdB += vid; lVB += v; lNB += nrm }
          else { rIdB += vid; rVB += v; rNB += nrm }
        }
        // The pair loops index these O(n²/B²) times — materialize as
        // PRIMITIVE arrays first (ArrayBuffer[Long/Double] is unspecialized:
        // every apply() unboxes, and that tax dominates a 64-flop kernel).
        val lId = lIdB.toArray; val lV = lVB.toArray; val lN = lNB.toArray
        val rId = rIdB.toArray; val rV = rVB.toArray; val rN = rNB.toArray
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        // Skip the decimal conversion for clear rejects; see scaladoc.
        val rawCut = threshold - 1e-6
        def emit(ida: Long, va: Array[Double], na: Double,
            idb: Long, vb: Array[Double], nb: Double): Unit = {
          var s = 0.0
          var k = 0
          val d = va.length
          while (k < d) { s += va(k) * vb(k); k += 1 }
          val c = s / (na * nb)
          if (c >= rawCut) {
            // Spark's round(double, 6): NaN/Inf pass through, else decimal
            // HALF_UP — replicated exactly so the result stays bit-equal.
            val r =
              if (c.isNaN || c.isInfinite) c
              else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble
            if (r >= threshold) {
              if (ida < idb) res += ((ida, idb, r)) else res += ((idb, ida, r))
            }
          }
        }
        if (bi == bj) {
          var i = 0
          while (i < lId.length) {
            var j = i + 1
            while (j < lId.length) {
              emit(lId(i), lV(i), lN(i), lId(j), lV(j), lN(j)); j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < lId.length) {
            var j = 0
            while (j < rId.length) {
              emit(lId(i), lV(i), lN(i), rId(j), rV(j), rN(j)); j += 1
            }
            i += 1
          }
        }
        res.iterator
    }
    out.toDF("vec_a", "vec_b", "cos_r")
  }

  /** Seeded ±1 random projection (the Achlioptas/JL sketch): d-dim
    * embeddings → k-dim, y_j = Σ_i x_i·s(i,j) with s(i,j) ∈ {−1, +1}
    * derived from the engine-portable [[TextHash.tokenHash]] of "i_j" —
    * the dimensionality-reduction front of every LSH/clustering pipeline
    * (project once, bucket/cluster in the cheap space). Output is LONG
    * format (vec_id, j, value): no array columns for the driver to hash,
    * and downstream ops consume (id, dim) cells anyway.
    *
    * Cross-engine exactness: each term is truncated at 2^-40 —
    * `CAST(x·s·2^40 AS LONG)` — so the per-projection sum is exact
    * integer arithmetic in any engine and in any order (x is a float, so
    * x·2^40 is an exact double product; truncation toward zero matches
    * DuckDB's `trunc`). The discarded tail is < d·2^-40 ≈ 6e-11, far
    * below the round-6 output. The float-sum alternative drifts by
    * accumulation order across engines (the q72 lesson).
    *
    * Scale shape: the projection matrix is d·k rows — kilobytes,
    * broadcast; the corpus explodes to (id, i, x) cells once and
    * aggregates straight back to (id, j): one shuffle keyed by (id, j),
    * no per-element lambdas outside codegen.
    */
  def randomProject(emb: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    val d = emb.select(size(col(vecCol))).head().getInt(0) // 1-row probe
    val matrix = spark.range(d.toLong).select(
      col("id").cast("int").as("i"),
      explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("i"), col("j"),
        when(pmod(TextHash.tokenHash(
          concat_ws("_", col("i"), col("j"))), lit(2L)) === 0, 1.0)
          .otherwise(-1.0).as("s"))
    val cells = emb.select(col(idCol),
      posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
    cells.join(broadcast(matrix), "i")
      .select(col(idCol), col("j"),
        (col("x") * col("s") * lit(1099511627776.0)).cast("long").as("term"))
      .groupBy(idCol, "j")
      .agg(round((sum("term") / lit(1099511627776.0)).cast("double"), 6)
        .as("value"))
  }

  /** Sign-random-projection (SRP) 64-bit fingerprint of an embedding
    * vector — Charikar's random-hyperplane LSH (STOC'02): bit j is the
    * sign of ⟨v, r_j⟩ for 64 seeded ±1 hyperplanes, so
    * P[bit differs] = angle(a, b)/π and Hamming distance on fingerprints
    * estimates angular distance. The embedding-space sibling of
    * `Dedup.simHash64Signature` (token space), sharing its banding,
    * verification, and incremental-probe machinery.
    *
    * Hyperplanes use [[randomProject]]'s seeded matrix (r_j[i] = ±1 by the
    * portable md5-digit hash of "i_j") packed to ONE long per dimension
    * (bit j = [r_j[i] = +1]), so the corpus pass is a single broadcast
    * join + one grouped codegen aggregation with 64 conditional sums —
    * the `simHash64Signature` shape, not 64 per-bit passes.
    *
    * Cross-engine exactness: each dot term is truncated at 2^-40
    * (`CAST(x·2^40 AS LONG)`, negated when r = −1 — truncation toward
    * zero is symmetric, so ±trunc(x·2^40) ≡ trunc(±x·2^40)), making every
    * projection sum exact integer arithmetic in any order and any engine;
    * the sign rule `sum ≥ 0 → 1` is then boundary-exact. Output:
    * (idCol, sh: long, two's complement).
    */
  def srpSignature(emb: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val spark = emb.sparkSession
    val d = emb.select(size(col(vecCol))).head().getInt(0) // 1-row probe
    val signs = spark.range(d.toLong).select(
      col("id").cast("int").as("i"),
      (0 until 64).map { j =>
        when(pmod(TextHash.tokenHash(
          concat_ws("_", col("id").cast("int"), lit(j))), lit(2L)) === 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _).as("m"))
    val cells = emb.select(col(idCol),
      posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .select(col(idCol), col("i"),
        (col("x") * lit(1099511627776.0)).cast("long").as("t"))
    val sums = (0 until 64).map { j =>
      sum(when(shiftright(col("m"), j).bitwiseAND(lit(1L)) === 1,
        col("t")).otherwise(-col("t"))).as(s"s$j")
    }
    cells.join(broadcast(signs), "i")
      .groupBy(idCol).agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j =>
          when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sh"))
  }

  /** Embedding near-dup pairs via SRP fingerprints: every pair whose
    * 64-bit [[srpSignature]]s differ in at most `maxDist` bits, found by
    * `Dedup`'s Hamming band pigeonholing (maxDist+1 band equi-joins, only
    * candidates pay the XOR-popcount, no false negatives W.R.T. the
    * fingerprint). Radius calibrates to angle: E[dist] = 64·θ/π, so
    * maxDist 3 ⇒ θ ≲ 8° — near-duplicate embeddings (the dedup setting,
    * where bands are 16 bits wide and candidate volume stays linear);
    * wider radii are a recall knob for coarser blocking. Output:
    * (id_a, id_b, dist), id_a < id_b.
    */
  def srpNearDupPairs(emb: DataFrame, vecCol: String, idCol: String,
      maxDist: Int = 3): DataFrame = {
    val sig = srpSignature(emb, vecCol, idCol)
    Dedup.hammingPairs(sig, sig, col(idCol), col("sh"), 64, maxDist)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("dist"))
  }

  /** Incremental SRP probe: every (batch vector, corpus vector) pair
    * within `maxDist` fingerprint bits, probing a PRECOMPUTED corpus
    * [[srpSignature]] table — the EMBEDDING member of the incremental
    * ingest family (`Dedup.incrementalSimHash64Pairs` is the token-space
    * twin; `SemDedup.incrementalDropList` the centroid-partitioned
    * alternative). The corpus pays nothing per batch; each arriving batch
    * pays one signature pass plus maxDist+1 asymmetric band equi-joins.
    * Output: (id_a = batch id, id_b = corpus id, dist).
    *
    * @param corpusSig (idCol, sh) as produced by [[srpSignature]].
    */
  def incrementalSrpPairs(corpusSig: DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, maxDist: Int = 3): DataFrame =
    Dedup.hammingPairs(srpSignature(batch, vecCol, idCol), corpusSig,
      col(idCol), col("sh"), 64, maxDist)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("dist"))

  /** Embedding near-dup CLUSTERS: [[srpNearDupPairs]]' pair graph closed
    * into connected components with min-id labels and keeper flags —
    * semantic dedup carried to keeper selection, the embedding member of
    * the clustering family (`DedupCluster.dedupClusters` / LSH,
    * `Fuzzy.editDistanceClusters` / strings), sharing the same factored
    * contraction + checkpointed-CC engine. Output:
    * (idCol, cluster_id, is_keeper).
    */
  def srpClusters(emb: DataFrame, vecCol: String, idCol: String,
      maxDist: Int = 3, localThreshold: Long = 100000L): DataFrame =
    srpClustersFromSig(emb, idCol, srpSignature(emb, vecCol, idCol), maxDist,
      localThreshold)

  /** [[srpClusters]] over a PRECOMPUTED (idCol, sh) signature table — a
    * session that also probes the same corpus's frozen signatures (the
    * q157 shape) computes the signature pass once and feeds both
    * consumers.
    */
  private[graft] def srpClustersFromSig(emb: DataFrame, idCol: String,
      sig: DataFrame, maxDist: Int,
      localThreshold: Long = 100000L): DataFrame =
    DedupCluster.clustersFromEdges(emb, idCol,
      Dedup.hammingPairs(sig, sig, col(idCol), col("sh"), 64, maxDist)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")),
      localThreshold)

  /** Incremental SRP-cluster ASSIGNMENT — the embedding member of the
    * online clustering family (`DedupCluster.assignToClusters` / LSH,
    * `Fuzzy.assignToEditClusters` / strings): each arriving vector adopts
    * the MINIMUM cluster id among its fingerprint matches within
    * `maxDist` bits ([[incrementalSrpPairs]] against the frozen corpus
    * signature table), does NOT merge bridged clusters (the periodic full
    * [[srpClusters]] reconciles), and founds its own cluster when nothing
    * matches. `corpusLabels` is a prior [[srpClusters]] run over the SAME
    * corpus. Output matches it: (idCol, cluster_id, is_keeper).
    */
  def assignToSrpClusters(corpusLabels: DataFrame, corpusSig: DataFrame,
      batch: DataFrame, vecCol: String, idCol: String,
      maxDist: Int = 3): DataFrame =
    DedupCluster.adopt(corpusLabels,
      incrementalSrpPairs(corpusSig, batch, vecCol, idCol, maxDist),
      batch, idCol)

  /** Top-`kComp` PRINCIPAL COMPONENTS via the classic split: the d×d
    * covariance is computed DISTRIBUTED ([[covarianceMatrix]] — the only
    * data-sized pass), then eigensolved ON THE DRIVER (power iteration
    * with deflation over a d×d array — d is a config constant, the
    * matrix is kilobytes; exactly where a 1000-executor job does it
    * too). Deterministic end-to-end: fixed uniform init, fixed iteration
    * count, canonical sign (largest-|coordinate| positive). Returns the
    * k×d row-major component matrix.
    */
  def pcaComponents(df: DataFrame, vecCol: String, idCol: String,
      kComp: Int, iters: Int = 100): Array[Array[Double]] = {
    require(kComp >= 1 && iters >= 1, "pcaComponents: kComp, iters >= 1")
    val cells = covarianceMatrix(df, vecCol, idCol).collect()
    val d = cells.iterator.map(_.getInt(1)).max + 1
    require(kComp <= d, s"pcaComponents: kComp $kComp > dims $d")
    val a = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((s, j) => s + a(i)(j) * v(j)))
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      if (n == 0.0) v else v.map(_ / n)
    }
    (0 until kComp).map { _ =>
      var v = normalize(Array.fill(d)(1.0))
      var it = 0
      while (it < iters) { v = normalize(matVec(v)); it += 1 }
      // canonical sign: the largest-|w| coordinate (first on ties) positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      val av = matVec(v)
      val lambda = v.indices.foldLeft(0.0)((s, i) => s + v(i) * av(i))
      // deflate: A ← A − λ v vᵀ
      for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lambda * v(i) * v(j)
      v
    }.toArray
  }

  /** Distributed PROJECTION onto precomputed components: one broadcast
    * k×d literal matrix, one codegen'd sequential dot per (vector,
    * component) — the reduce step every PCA/whitening pipeline runs at
    * corpus scale. Output (idCol, c, proj), proj rounded at 6 (the dot's
    * left-to-right fold order is the same on both engines — the q20
    * parity base).
    */
  def pcaProject(df: DataFrame, vecCol: String, idCol: String,
      comps: Array[Array[Double]]): DataFrame =
    comps.zipWithIndex.map { case (w, c) =>
      df.select(col(idCol), lit(c).as("c"),
        round(dot(asDouble(col(vecCol)), lit(w)), 6).as("proj"))
    }.reduce(_ unionByName _)

  /** Upper-triangle COVARIANCE MATRIX of an embedding column — the
    * whitening/PCA-prep statistic every vector pipeline computes before
    * decorrelating or reducing dimensions (the k×k input a driver-side
    * eigensolver then factors; cf. the JL/PQ/IVF reducers that consume
    * it). cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j].
    *
    * Cross-engine float discipline (the q104 rule): every float product
    * x_i·x_j is EXACT in double (24-bit mantissas), and each term enters
    * the sums as `trunc(t · 2^40)` — a power-of-two scale (exact) then
    * truncation — so all three sums are integer arithmetic in any order
    * on any engine; doubles reappear only in the final fixed-shape
    * expression, rounded at 6.
    *
    * Scale shape: one posexplode to (vec, dim, x) and one same-vector
    * self-join emitting the d(d+1)/2 upper-triangle terms per vector —
    * d²-bounded fan-out (a config constant, not data), aggregated with
    * map-side combine on (i, j) keys; the mean sums ride the same
    * exploded relation. Output: (i, j, cov), j ≥ i.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    finalizeCovariance(covarianceSums(df, vecCol, idCol))

  /** The covariance SKETCH behind [[covarianceMatrix]]: all three
    * integer-exact sums in ONE tagged table — (i, j, s) with j ≥ 0 the
    * scaled product sums, j = −1 the per-dimension mean sums, and
    * (−1, −1) the vector count. Because every entry is an order-free
    * integer SUM, the sketch is MERGEABLE by plain addition
    * ([[mergeCovarianceSums]]): a frozen corpus sketch absorbs each
    * arriving batch at O(batch) cost and [[finalizeCovariance]] yields
    * the bit-identical matrix a full recompute would — the
    * covariance/PCA member of the incremental-ingest family.
    */
  def covarianceSums(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val S = 1099511627776.0 // 2^40
    val x = df.select(col(idCol).as("__vid"),
      posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .localCheckpoint() // feeds the mean sums AND both product sides
    val prods = x.select(col("__vid"), col("i"), col("x"))
      .join(x.select(col("__vid"), col("i").as("j"), col("x").as("y")),
        Seq("__vid"))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum((col("x") * col("y") * S).cast("long")).as("s"))
    val means = x.groupBy("i")
      .agg(sum((col("x") * S).cast("long")).as("s"))
      .select(col("i"), lit(-1).as("j"), col("s"))
    val cnt = x.agg(countDistinct(col("__vid")).as("s"))
      .select(lit(-1).as("i"), lit(-1).as("j"), col("s"))
    prods.select(col("i"), col("j"), col("s"))
      .unionByName(means).unionByName(cnt)
  }

  /** Sketch merge: plain addition per cell — sums(A ∪ B) = sums(A) +
    * sums(B) for disjoint inputs. One |sketch|-sized aggregate (d²
    * rows), no corpus pass.
    */
  def mergeCovarianceSums(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("i", "j").agg(sum(col("s")).as("s"))

  /** Finalize a covariance sketch into the (i, j, cov) matrix — doubles
    * enter only here, in the fixed-shape expression both engines share.
    * The rounded cell goes through [[graft.syntax.round6z]] (`+ 0.0`):
    * a cell whose exact value sits in (-5e-7, 0) rounds to `-0.0` in one
    * engine and `+0.0` in the other (last-ulp drift upstream of the
    * round), and the driver's hash is bit-strict about zero's sign —
    * the round-10 q171/q174 failure. The twin appends the same `+ 0.0`.
    */
  def finalizeCovariance(sums: DataFrame): DataFrame = {
    val S = 1099511627776.0 // 2^40
    val n = sums.filter(col("i") === -1 && col("j") === -1)
      .head().getLong(2)
    val means = sums.filter(col("j") === -1 && col("i") =!= -1)
      .select(col("i"), col("s").as("sx"))
    sums.filter(col("j") >= 0)
      .join(means.select(col("i"), col("sx").as("sa")), Seq("i"))
      .join(means.select(col("i").as("j"), col("sx").as("sb")), Seq("j"))
      .select(col("i"), col("j"),
        graft.syntax.round6z(col("s").cast("double") / S / n -
          (col("sa").cast("double") / S / n) *
          (col("sb").cast("double") / S / n)).as("cov"))
  }
}
