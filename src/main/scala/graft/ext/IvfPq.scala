package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ (IVFADC, Jégou et al. TPAMI'11): the production ANN composition
  * the [[IvfIndex]]/[[PqIndex]] docs point at — IVF prunes WHICH vectors
  * are scanned (coarse k-means cells), PQ shrinks WHAT is scanned (each
  * vector stored as m byte codes of its RESIDUAL from its cell centroid).
  * Residual quantization is what makes the composition work: residuals
  * concentrate near zero, so the same `ksub` codebook cells resolve much
  * finer structure than they would on raw vectors.
  *
  * Scale shape: training is one coarse k-means + m sub-space k-means over
  * residuals (samples suffice at corpus scale); the index is a narrow
  * (id, cell, codes) table partitionable by cell — at 100 TB,
  * cell-partitioned storage turns the nprobe filter into partition
  * pruning, and the scanned bytes per candidate are m codes instead of
  * d·4. A query builds nprobe ADC tables driver-side (nprobe·m·ksub
  * doubles — kilobytes), scans only probed cells, shortlists k·refine by
  * ADC distance, and exact-rescores the shortlist against the original
  * vectors (one broadcast-size join).
  *
  * WHY NO GRAPH ANN (HNSW/NSG) — a deliberate architecture decision,
  * not a gap: graph search is a sequential chain of RANDOM-ACCESS
  * neighbor hops (each hop reads the adjacency list of the node the
  * previous hop chose), which presumes the whole graph behind a
  * pointer-chasing memory — exactly what a shared-nothing Spark cluster
  * does not offer. Sharding the graph puts most hops on a remote
  * partition (a network round-trip per hop), and expressing the walk
  * relationally makes each hop a self-join — a shuffle per hop, hundreds
  * per query. Cell-pruned IVFADC is the Spark-native equivalent posture:
  * the "routing" step is one broadcast centroid argmin (replacing the
  * graph's upper layers), and the "search" step is an embarrassingly
  * parallel scan of nprobe partition-pruned cells (replacing the base
  * layer walk) — every operation a scan or a broadcast, none a
  * pointer chase. Single-node engines rightly pick HNSW; a 1000-executor
  * engine reading 100 TB rightly picks this. (The same trade is why
  * [[graft.ext.SemDedup]] clusters with k-means cells, not a graph.)
  */
object IvfPq {

  case class Model(
      m: Int, dsub: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame)

  /** Train coarse cells + residual PQ codebooks (seeds `seed + 100 + s`)
    * and encode the corpus through the same path as [[encodeBatch]].
    */
  def build(emb: DataFrame, vecCol: String, idCol: String,
      nlist: Int, m: Int, ksub: Int, seed: Long = 42L,
      maxIter: Int = 10): Model = {
    val cents = IvfIndex.build(emb, vecCol, idCol, nlist, seed, maxIter)
      .centroids
    val d = cents(0).length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val resid = residuals(cents, emb, vecCol, idCol)
    val pq = ProductQuantizer.train(resid, col("_r"), m, d / m, ksub,
      seed + 100, maxIter)
    Model(m, d / m, cents, pq.codebooks, encode(pq, resid, idCol))
  }

  /** Encode a NEW batch against the FROZEN model — no retraining. The
    * at-scale ingest path: a 100 TB corpus grows by batches, and
    * re-running both k-means trainings per ingest would make index
    * maintenance O(corpus); this is O(batch) — one pass that assigns each
    * vector to its nearest coarse cell and PQ-encodes its residual with
    * the existing codebooks (both closure literals: nlist·d + m·ksub·dsub
    * doubles, kilobytes), then unions into `Model.encoded`.
    * The relational twin of [[Dedup.incrementalDupIds]]: probe frozen
    * structure, never rebuild it. [[build]] encodes through this same
    * path, so re-encoding a vector the model was built on reproduces its
    * (cell, codes) exactly, and searches over the appended index rank
    * appended duplicates identically.
    * Retrain only when drift degrades residuals (an offline decision —
    * e.g. [[graft.ops.Drift]] on the per-cell ADC error distribution).
    */
  def encodeBatch(model: Model, batch: DataFrame, vecCol: String,
      idCol: String): Model =
    model.copy(encoded = model.encoded.unionByName(
      encode(ProductQuantizer(model.codebooks),
        residuals(model.centroids, batch, vecCol, idCol), idCol)))

  /** Top-k: probe the `nprobe` nearest cells, ADC-scan their codes with
    * per-cell distance tables on the query's residual, exact-cosine
    * re-rank of the `k·refine` shortlist against the original vectors.
    */
  def search(model: Model, emb: DataFrame, vecCol: String, idCol: String,
      queryVec: Array[Double], nprobe: Int, k: Int,
      refine: Int = 4): DataFrame = {
    val pq = ProductQuantizer(model.codebooks)
    val probed = Nearest.probe(model.centroids, queryVec, nprobe)
    val tables = probed.map(cell =>
      cell -> pq.table(residual(queryVec, model.centroids(cell)))).toMap
    val shortlist = model.encoded
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col(idCol), pq.adc(tables, col("cell"), col("codes")).as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol)).limit(k * refine)
    Similarity.cosineTopK(emb.join(broadcast(shortlist.select(idCol)), idCol),
      idCol, Similarity.asDouble(col(vecCol)), typedLit(queryVec), k)
  }

  private def residual(v: collection.Seq[Double],
      c: Array[Double]): Array[Double] =
    Array.tabulate(c.length)(i => v(i) - c(i))

  /** (idCol, cell, _r): each vector's [[Nearest]] cell and its residual
    * from that cell's centroid.
    */
  private def residuals(cents: Array[Array[Double]], df: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    val coarse = udf { (v: Seq[Double]) =>
      val cell = Nearest(cents, v)
      (cell, residual(v, cents(cell)))
    }
    df.select(col(idCol), coarse(Similarity.asDouble(col(vecCol))).as("_c"))
      .select(col(idCol), col("_c._1").as("cell"), col("_c._2").as("_r"))
  }

  private def encode(pq: ProductQuantizer, resid: DataFrame,
      idCol: String): DataFrame =
    resid.select(col(idCol), col("cell"), pq.encode(col("_r")).as("codes"))
}
