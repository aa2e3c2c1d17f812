package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OPQ — Optimized Product Quantization (Ge et al. CVPR'13, the
  * non-parametric §4 variant): learn an ORTHOGONAL rotation R so that
  * product quantization of X·R loses less than PQ of X. The missing
  * preprocessing stage in front of [[PqIndex]]/[[IvfPq]]: PQ's
  * independence assumption (subspaces quantized separately) is exactly
  * what a rotation can repair by decorrelating and variance-balancing
  * the subspaces.
  *
  * The alternation (each step cannot increase ‖X·R − Q‖²):
  *  1. rotate: Y = X·R (distributed — one codegen'd literal-matrix
  *     projection per row, [[Similarity.pcaProject]]'s shape);
  *  2. quantize: PQ codebooks fit on Y ([[PqIndex.build]] — m concurrent
  *     sub-space k-means) and Y reconstructed from its codes;
  *  3. orthogonal Procrustes: M = Xᵀ·Q computed DISTRIBUTED as exact
  *     2^-40-scaled integer sums (the covariance-sketch discipline —
  *     deterministic under any partitioning), then R = U·Vᵀ from the
  *     d×d SVD ON THE DRIVER (power iteration + deflation on MᵀM, the
  *     [[Similarity.pcaComponents]] kernel — d is a config constant,
  *     kilobytes of algebra exactly where a 1000-executor job does it).
  *
  * Scale shape: per alternation the corpus pays one rotate pass, one
  * PQ fit/encode, and one d²-cell aggregate; at 100 TB, train on a
  * sample (rotation + codebooks are kilobytes of broadcast literals;
  * only the final encode is a full pass). The d² explode behind
  * [[crossSums]] is per-row bounded (d=64 → 4096 cells), never
  * corpus-cardinality state.
  *
  * Certificate split (q253): the run records R; the twin recomputes
  * rotated coordinates from raw embeddings with the identical
  * left-to-right dot fold (the q172 parity base). Procrustes OPTIMALITY
  * (planted-rotation recovery, orthogonality, no-harm MSE) is
  * spec-pinned — the ANN-certificate division of labor.
  */
object Opq {

  private def identityMatrix(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  /** Distributed rotation application: (idCol, y) with y = x·R
    * (y_j = Σ_i x_i·R_ij — each output dim one codegen'd dot against a
    * broadcast literal column of R).
    */
  def rotate(df: DataFrame, vecCol: String, idCol: String,
      r: Array[Array[Double]]): DataFrame = {
    val d = r.length
    val x = Similarity.asDouble(col(vecCol))
    val cols = (0 until d).map { j =>
      Similarity.dot(x, lit(r.map(_(j))))
    }
    df.select(col(idCol), array(cols: _*).as("y"))
  }

  /** M = Xᵀ·Q over two (id, vector) relations, computed as exact
    * 2^-40-truncated integer sums per (i, j) cell — order- and
    * partitioning-independent, so training is deterministic.
    */
  private[ext] def crossSums(a: DataFrame, aVec: String, b: DataFrame,
      bVec: String, idCol: String): Array[Array[Double]] = {
    // Round-17 resolution of the round-16 one-side-explode rewrite: a
    // direct micro-A/B of the two shapes over the real embeddings
    // (min-of-7, sf0.1, same session) measured them IDENTICAL (new 0.452
    // vs old 0.474 s per call — crossSums is ~0.5 s of q253's ~6.7 s; the
    // alternation's seeded MLlib KMeans fits dominate), while the driver's
    // round-16 bench had q253 slower with the rewrite in both its runs
    // (6.20 → 6.79/6.86 s) and the whole-query QBench medians at HEAD
    // agreed (old 6.98/7.30 vs new 7.95/8.52). Reverted to the
    // both-sides-exploded shape: same exact-integer terms (order-free), a
    // simpler plan, and the evidence-backed side of the tie.
    val S = 1099511627776.0 // 2^40
    val xe = a.select(col(idCol).as("__id"),
      posexplode(Similarity.asDouble(col(aVec))).as(Seq("i", "xv")))
    val qe = b.select(col(idCol).as("__id"),
      posexplode(Similarity.asDouble(col(bVec))).as(Seq("j", "qv")))
    val cells = xe.join(qe, "__id")
      .groupBy("i", "j")
      .agg(sum(floor(col("xv") * col("qv") * S).cast("long")).as("s"))
      .collect()
    require(cells.nonEmpty, "Opq.crossSums: no row of `a` shares an id " +
      s"with a row of `b` on `$idCol` (empty or id-disjoint inputs), so " +
      "M = Xᵀ·Q is undefined")
    val d = cells.iterator.map(r => math.max(r.getInt(0), r.getInt(1)))
      .max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getLong(2) / S)
    m
  }

  /** The orthogonal-Procrustes solve: given M = Xᵀ·Q, the orthogonal R
    * minimizing ‖X·R − Q‖² is U·Vᵀ from M's SVD (Schönemann 1966).
    * Driver-side d×d algebra: eigensolve MᵀM by power iteration +
    * deflation with explicit re-orthogonalization against the found
    * basis (fixed init, fixed iters, canonical sign — the
    * [[Similarity.pcaComponents]] determinism rules), left vectors
    * recovered as u_k = M·v_k/σ_k. A RANK-DEFICIENT M is expected in the
    * alternation (the first PQ reconstruction's column space is
    * span(codebooks), often < d): for σ_k ≈ 0 any orthogonal completion
    * of U is optimal, so the nullspace u's are completed
    * DETERMINISTICALLY by Gram-Schmidt over the standard basis in index
    * order — same M, same R, on any host.
    */
  private[ext] def procrustes(m: Array[Array[Double]],
      iters: Int = 200): Array[Array[Double]] = {
    val d = m.length
    val s = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += m(k)(i) * m(k)(j); k += 1 }
      acc
    }
    def matVec(a: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += a(i)(j) * v(j); j += 1 }
        acc
      }
    def norm(v: Array[Double]): Double =
      math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
    def normalize(v: Array[Double]): Array[Double] = {
      val n = norm(v)
      if (n == 0.0) v else v.map(_ / n)
    }
    // subtract the projections of v onto basis(0 until k), in place
    def orthogonalize(v: Array[Double], basis: Array[Array[Double]],
        k: Int): Array[Double] = {
      var b = 0
      while (b < k) {
        var dp = 0.0; var i = 0
        while (i < d) { dp += v(i) * basis(b)(i); i += 1 }
        i = 0
        while (i < d) { v(i) -= dp * basis(b)(i); i += 1 }
        b += 1
      }
      v
    }
    // deterministic completion: first standard basis vector with a
    // non-negligible component outside span(basis(0 until k))
    def complete(basis: Array[Array[Double]], k: Int): Array[Double] = {
      var e = 0
      while (e < d) {
        val cand = orthogonalize(
          Array.tabulate(d)(i => if (i == e) 1.0 else 0.0), basis, k)
        val n = norm(cand)
        if (n > 1e-6) return cand.map(_ / n)
        e += 1
      }
      throw new IllegalStateException(
        "Opq.procrustes: no completion direction found (impossible for k < d)")
    }
    val vs = Array.ofDim[Double](d, d)
    val sig = new Array[Double](d)
    (0 until d).foreach { k =>
      var v = normalize(Array.fill(d)(1.0))
      var it = 0
      while (it < iters) {
        // re-orthogonalize every step: deflation alone leaves ~1e-8·λmax
        // residue, and for λ ≈ 0 the iteration would otherwise just
        // follow that noise back into the span already extracted
        v = normalize(orthogonalize(matVec(s, v), vs, k))
        if (norm(v) < 0.5) v = complete(vs, k) // matVec annihilated v
        it += 1
      }
      if (norm(v) < 0.5) v = complete(vs, k)
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      val av = matVec(s, v)
      val lambda = v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * av(i))
      sig(k) = math.sqrt(math.max(lambda, 0.0))
      vs(k) = v
      for (i <- 0 until d; j <- 0 until d)
        s(i)(j) -= lambda * v(i) * v(j)
    }
    // u_k = M·v_k/σ_k for the well-conditioned part (re-orthogonalized —
    // float hygiene), deterministic completion for the nullspace
    val sigGate = 1e-6 * math.max(sig(0), 1e-300)
    val us = Array.ofDim[Double](d, d)
    (0 until d).foreach { k =>
      val u =
        if (sig(k) > sigGate)
          normalize(orthogonalize(matVec(m, vs(k)).map(_ / sig(k)), us, k))
        else complete(us, k)
      us(k) = if (norm(u) > 0.5) u else complete(us, k)
    }
    Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += us(k)(i) * vs(k)(j); k += 1 }
      acc
    }
  }

  /** Learn the OPQ rotation: `alternations` rounds of rotate → PQ →
    * Procrustes starting from the identity. Returns the d×d row-major R
    * (apply with [[rotate]], then feed [[PqIndex.build]]/[[IvfPq.build]]
    * the rotated vectors).
    */
  def trainRotation(emb: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, alternations: Int = 3, seed: Long = 42L,
      maxIter: Int = 10): Array[Array[Double]] = {
    require(alternations >= 1, s"Opq.trainRotation: alternations >= 1")
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    val x = emb.select(col(idCol),
        Similarity.asDouble(col(vecCol)).as("x"))
      .localCheckpoint() // feeds every alternation's rotate AND crossSums
    var r = identityMatrix(d)
    (1 to alternations).foreach { _ =>
      val pq = PqIndex.build(rotate(x, "x", idCol, r), "y", idCol, m,
        ksub, seed, maxIter)
      val q = pq.encoded.select(col(idCol),
        ProductQuantizer(pq.codebooks).decode(col("codes")).as("q"))
      r = procrustes(crossSums(x, "x", q, "q", idCol))
    }
    r
  }

  /** Mean squared PQ reconstruction error of `emb` under rotation `r`
    * (identity = plain PQ) — the train-objective readout the OPQ spec
    * compares. One fit + one encode + one bounded aggregate.
    */
  def quantizationMse(emb: DataFrame, vecCol: String, idCol: String,
      r: Array[Array[Double]], m: Int, ksub: Int, seed: Long = 42L,
      maxIter: Int = 10): Double = {
    val rot = rotate(emb, vecCol, idCol, r)
    val pq = PqIndex.build(rot, "y", idCol, m, ksub, seed, maxIter)
    val diff = zip_with(col("_v"),
      ProductQuantizer(pq.codebooks).decode(col("codes")), _ - _)
    pq.encoded.select(Similarity.dot(diff, diff).as("e"))
      .agg(avg("e")).head().getDouble(0)
  }
}
