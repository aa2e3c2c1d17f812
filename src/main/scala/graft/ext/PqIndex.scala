package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization ANN: split each d-dim vector into `m` subvectors,
  * k-means each subspace into `ksub` centroids, store each vector as `m`
  * small codes; queries score candidates with an asymmetric distance
  * table (ADC) — m·ksub exact subspace distances computed once per query,
  * then every candidate's approximate distance is m table lookups.
  * The memory-side scale path next to the routing-side [[IvfIndex]]:
  * IVF prunes WHICH vectors are scanned, PQ shrinks WHAT is scanned
  * (d·4 bytes → m codes, 32× at d=64/m=8), and production systems
  * compose them (IVF-PQ).
  *
  * Scale shape: training is m k-means fits over a sample (codebooks are
  * m·ksub·(d/m) doubles — kilobytes, a closure broadcast); encoding is
  * one embarrassingly-parallel pass; a query never shuffles — the ADC
  * scan is a map over the code table followed by a top-k
  * (TakeOrderedAndProject), then the exact re-rank of the shortlist
  * ([[Similarity.cosineTopK]]).
  */
object PqIndex {

  /** codebooks(sub)(code) = centroid of that subspace cell. */
  case class Model(m: Int, dsub: Int, codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame)

  /** Train per-subspace codebooks (seeds `seed + s`) and encode the corpus.
    * `ksub` ≤ 256 keeps codes byte-sized.
    */
  def build(emb: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, seed: Long = 42L, maxIter: Int = 10): Model = {
    val d = emb.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val vecs = emb.select(col(idCol), Similarity.asDouble(col(vecCol)).as("_v"))
    val pq = ProductQuantizer.train(vecs, col("_v"), m, d / m, ksub, seed, maxIter)
    Model(m, d / m, pq.codebooks, vecs.withColumn("codes", pq.encode(col("_v"))))
  }

  /** ADC top-k: approximate squared-L2 via the query's distance table,
    * shortlist of `k * refine`, exact cosine re-rank of the shortlist.
    * Plain PQ is IVF-PQ with one cell at the origin, so the one table
    * sits at cell 0.
    */
  def search(model: Model, queryVec: Array[Double], idCol: String,
      k: Int, refine: Int = 4): DataFrame = {
    val pq = ProductQuantizer(model.codebooks)
    val shortlist = model.encoded
      .select(col(idCol), col("_v"),
        pq.adc(Map(0 -> pq.table(queryVec)), lit(0), col("codes"))
          .as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol)).limit(k * refine)
    Similarity.cosineTopK(shortlist, idCol, col("_v"), typedLit(queryVec), k)
  }
}

/** The squared-L2 nearest-centroid kernel of every IVFADC step: it picks
  * the IVF cell ([[IvfIndex.build]], [[IvfPq]]'s encode), the `nprobe`
  * cells a query scans, and each product-quantizer codeword. One
  * arithmetic for all of them — the diffs summed left to right from 0.0,
  * the first strict minimum winning — so re-encoding a vector the index
  * was built on reproduces its cell and codes exactly.
  */
private[ext] object Nearest {

  /** Squared L2 distance from centroid `c` to `v(off until off + c.length)`. */
  def d2(c: Array[Double], v: collection.Seq[Double], off: Int): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) {
      val diff = v(off + i) - c(i)
      d += diff * diff; i += 1
    }
    d
  }

  /** Index of the centroid nearest to `v(off …)`; ties keep the lower index. */
  def apply(cents: Array[Array[Double]], v: collection.Seq[Double],
      off: Int = 0): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = d2(cents(c), v, off)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` centroids nearest to `q`, nearest first (stable: ties keep
    * index order). Driver-side micro-math over nlist rows.
    */
  def probe(cents: Array[Array[Double]], q: Array[Double],
      nprobe: Int): Array[Int] =
    cents.indices.map(c => (c, d2(cents(c), q, 0)))
      .sortBy(_._2).take(nprobe).map(_._1).toArray
}

/** The product quantizer [[PqIndex]] and [[IvfPq]] share, and [[Opq]]
  * decodes through: `codebooks(s)(code)` is codeword `code` of subspace
  * `s`, each `dsub` wide.
  */
private[ext] final case class ProductQuantizer(
    codebooks: Array[Array[Array[Double]]]) {

  private val dsub = codebooks(0)(0).length

  /** Codes column of an array<double> column: per subspace the
    * [[Nearest]] codeword.
    */
  def encode(v: Column): Column = udf { (x: Seq[Double]) =>
    Array.tabulate(codebooks.length)(s => Nearest(codebooks(s), x, s * dsub))
  }.apply(v)

  /** Reconstruction column of a codes column: the chosen codewords,
    * concatenated — a native gather from literal codebooks.
    */
  def decode(codes: Column): Column =
    flatten(array(codebooks.indices.map(s =>
      element_at(typedLit(codebooks(s)), codes.getItem(s) + 1)): _*))

  /** ADC table of a query (or query residual): `t(s)(code)` = squared
    * distance from its subvector `s` to that codeword. Driver-side,
    * m·ksub entries.
    */
  def table(q: Array[Double]): Array[Array[Double]] =
    Array.tabulate(codebooks.length)(s =>
      codebooks(s).map(c => Nearest.d2(c, q, s * dsub)))

  /** ADC distance column: m lookups in the table of each row's `cell`. */
  def adc(tables: Map[Int, Array[Array[Double]]], cell: Column,
      codes: Column): Column = udf { (c: Int, cs: Seq[Int]) =>
    val t = tables(c)
    var d = 0.0; var s = 0
    while (s < t.length) { d += t(s)(cs(s)); s += 1 }
    d
  }.apply(cell, codes)
}

private[ext] object ProductQuantizer {

  /** One k-means per subspace of `vec`, seeded `seed + s`. The m fits are
    * independent, so they run as CONCURRENT Spark jobs (the scheduler
    * interleaves their small stages instead of paying m sequential
    * job-latency floors). At corpus scale, fit on a sample — a codebook
    * only needs cells that tile its subspace.
    */
  def train(rows: DataFrame, vec: Column, m: Int, dsub: Int, ksub: Int,
      seed: Long, maxIter: Int): ProductQuantizer = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    ProductQuantizer(Await.result(
      Future.sequence((0 until m).toList.map { s => Future {
        val sub = rows.select(
          array_to_vector(slice(vec, s * dsub + 1, dsub)).as("_features"))
        new KMeans().setK(ksub).setSeed(seed + s).setFeaturesCol("_features")
          .setMaxIter(maxIter).fit(sub)
          .clusterCenters.map(_.toArray)
      }}), Duration.Inf).toArray)
  }
}
