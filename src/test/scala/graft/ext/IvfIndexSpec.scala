package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestSpark}

/** IVF ANN: recall against the exact brute-force baseline. */
class IvfIndexSpec extends SparkSpec {

  test("IVF search recalls most of the exact top-k probing a few cells") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val model = IvfIndex.build(emb, "embedding", "vec_id", nlist = 8)
    model.assigned.select("cell").distinct().count() shouldBe 8L

    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val exact = Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")).as("qv")), 10)
      .collect().map(_.getLong(0)).toSet
    val approx = IvfIndex.search(model, qv, "embedding", "vec_id",
      nprobe = 3, k = 10).collect().map(_.getLong(0)).toSet
    // the query vector itself lives in a probed cell → must be found
    approx should contain(0L)
    (exact intersect approx).size.toDouble / exact.size should be >= 0.5
  }

  test("IVF-PQ: residual ADC + exact re-rank recalls the exact top-k") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val model = IvfPq.build(emb, "embedding", "vec_id",
      nlist = 8, m = 8, ksub = 16, maxIter = 5)
    model.encoded.select("codes").head().getSeq[Int](0).length shouldBe 8
    val exact = Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")).as("qv")), 10)
      .collect().map(_.getLong(0)).toSet
    val approx = IvfPq.search(model, emb, "embedding", "vec_id", qv,
      nprobe = 3, k = 10).collect().map(_.getLong(0)).toSet
    approx should contain(0L) // query's own cell is always probed
    (exact intersect approx).size.toDouble / exact.size should be >= 0.5
  }

  test("IVF-PQ encodeBatch: frozen-model encode matches build; appended ≈ rebuilt") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    val nBase = base.count(); val nAll = emb.count()
    val model = IvfPq.build(base, "embedding", "vec_id",
      nlist = 8, m = 8, ksub = 16, maxIter = 5)
    val appended = IvfPq.encodeBatch(model, batch, "embedding", "vec_id")
    // O(batch) ingest: the appended index covers base + batch, nothing
    // retrained (same centroids/codebooks object)
    appended.encoded.count() shouldBe nAll
    appended.centroids should be theSameInstanceAs model.centroids
    // determinism: re-encoding the BUILD vectors against the frozen model
    // reproduces the build-time encoding exactly — build encodes through
    // the same cell pick and residual encode
    val reEnc = IvfPq.encodeBatch(
      model.copy(encoded = model.encoded.limit(0)),
      base, "embedding", "vec_id").encoded
    val agree = model.encoded.alias("x")
      .join(reEnc.alias("y"), col("x.vec_id") === col("y.vec_id"))
      .filter(col("x.cell") === col("y.cell") &&
        col("x.codes") === col("y.codes"))
      .count()
    agree shouldBe nBase
    // recall parity: searching the appended index is within tolerance of a
    // full rebuild over the same corpus (both vs the exact top-k)
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toArray
    val exact = Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")).as("qv")), 10)
      .collect().map(_.getLong(0)).toSet
    val rebuilt = IvfPq.build(emb, "embedding", "vec_id",
      nlist = 8, m = 8, ksub = 16, maxIter = 5)
    def recall(m: IvfPq.Model): Double = {
      val got = IvfPq.search(m, emb, "embedding", "vec_id", qv,
        nprobe = 3, k = 10).collect().map(_.getLong(0)).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    recall(appended) should be >= (recall(rebuilt) - 0.2)
  }

  test("probing all cells equals brute force exactly") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001).limit(100)
    val model = IvfIndex.build(emb, "embedding", "vec_id", nlist = 4)
    val qv = Array.fill(64)(0.1)
    val all = IvfIndex.search(model, qv, "embedding", "vec_id",
      nprobe = 4, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      spark.range(1).select(
        array((0 until 64).map(_ => lit(0.1)): _*).as("qv")), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    all.toSeq shouldBe brute.toSeq
  }

  test("PQ and IVF-PQ equal brute force exactly when the shortlist is the corpus") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001).limit(100)
    val qv = Array.fill(64)(0.1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = rows(Similarity.bruteForceTopK(
      emb, "embedding", "vec_id",
      spark.range(1).select(
        array((0 until 64).map(_ => lit(0.1)): _*).as("qv")), 5))
    // k·refine = 5·20 ≥ 100 rows: the ADC shortlist keeps every vector
    val pq = PqIndex.build(emb, "embedding", "vec_id", m = 8, ksub = 16,
      maxIter = 5)
    rows(PqIndex.search(pq, qv, "vec_id", k = 5, refine = 20)) shouldBe brute
    // ... and with every cell probed, so does IVF-PQ's
    val ivfpq = IvfPq.build(emb, "embedding", "vec_id",
      nlist = 4, m = 8, ksub = 16, maxIter = 5)
    rows(IvfPq.search(ivfpq, emb, "embedding", "vec_id", qv,
      nprobe = 4, k = 5, refine = 20)) shouldBe brute
  }
}
