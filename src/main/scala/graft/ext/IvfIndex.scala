package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: coarse-quantize the
  * corpus into `nlist` k-means cells; a query scans only its `nprobe`
  * nearest cells with exact rescoring inside (the other scale path next
  * to [[Similarity.signBucket]] LSH).
  *
  * Scale shape: the assignment is a narrow (id, cell, vec) table
  * partitionable by cell; a query's candidate scan is an `isin`-pruned
  * filter — at 100 TB with cell-partitioned storage that is partition
  * pruning, reading nprobe/nlist of the data instead of all of it.
  * Training cost is one k-means over a sample; assignments are one pass.
  */
object IvfIndex {

  case class Model(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Build the index: seeded k-means over the embedding column, then each
    * vector's cell is its [[Nearest]] centroid (the same kernel
    * [[IvfPq]]'s encode runs). `maxIter` trades centroid quality for build
    * time — IVF recall only needs cells that roughly tile the space, so
    * small values (3-5) are usually enough; the default matches MLlib's.
    */
  def build(emb: DataFrame, vecCol: String, idCol: String,
      nlist: Int, seed: Long = 42L, maxIter: Int = 20): Model = {
    val cents = new KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("_features")
      .setMaxIter(maxIter)
      .fit(emb.select(array_to_vector(col(vecCol)).as("_features")))
      .clusterCenters.map(_.toArray)
    val cell = udf { (v: Seq[Double]) => Nearest(cents, v) }
    Model(cents, emb.select(col(idCol), col(vecCol),
      cell(Similarity.asDouble(col(vecCol))).as("cell")))
  }

  /** Top-k by cosine among the `nprobe` cells nearest the query vector. */
  def search(model: Model, queryVec: Array[Double], vecCol: String,
      idCol: String, nprobe: Int, k: Int): DataFrame = {
    val cells = Nearest.probe(model.centroids, queryVec, nprobe)
    Similarity.cosineTopK(
      model.assigned.filter(col("cell").isin(cells.toSeq: _*)), idCol,
      Similarity.asDouble(col(vecCol)), typedLit(queryVec), k)
  }
}
