package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate *clustering*: group documents into connected components of
  * the MinHash-LSH similarity graph and pick one canonical keeper per
  * cluster (the reference's upsert keeps one row per `gid`,
  * `update_ways_metadata.py:50-54`; this is the corpus-dedup analog where
  * the "key" is discovered rather than given).
  *
  * Scale design (the 100 TB story):
  *  - Edges are **band-star** edges — within each LSH band bucket every
  *    member links to the bucket's minimum id. That is O(docs·bands) edge
  *    rows and connects exactly the same components as the full
  *    all-pairs-per-bucket graph, without ever materializing O(n²)
  *    candidate pairs (a bucket of 1M near-dups yields 1M edges, not 10¹²).
  *  - Components are found by iterative min-label propagation plus pointer
  *    jumping, the standard O(log n)-round distributed CC. Each round is
  *    two shuffles on compact (id, label) rows; lineage is cut per round
  *    with localCheckpoint so plans stay constant-size.
  *  - Nothing is collected to the driver; the driver only checks the
  *    converged flag (a 1-row count per round).
  */
object DedupCluster {

  /** Band-star edges over a MinHash signature table: for each band (a list
    * of signature columns), group by the band's values and link every
    * member to the group's min id. Output: (src, dst) with src > dst.
    */
  def bandStarEdges(sig: DataFrame, idCol: String,
      bands: Seq[Seq[String]]): DataFrame =
    bands.map { cols =>
      val roots = sig.groupBy(cols.map(col): _*).agg(min(col(idCol)).as("dst"))
      sig.select(col(idCol) +: cols.map(col): _*)
        .join(roots, cols)
        .filter(col(idCol) =!= col("dst"))
        .select(col(idCol).as("src"), col("dst"))
    }.reduce(_ unionByName _).distinct()

  /** Connected components by min-label propagation with pointer jumping.
    * `nodes` is a 1-column DataFrame (`node`); `edges` is (src, dst) in
    * either orientation. Returns (node, label) where label is the minimum
    * node id reachable from `node`. Throws if not converged within
    * `maxIter` rounds (propagation + jumping needs ~log₂(diameter)).
    *
    * Hybrid execution: when the edge list is at most `localThreshold`
    * rows, the components are solved by union-find ON THE DRIVER and the
    * labels broadcast back. Each distributed round costs two shuffles +
    * one materializing job of FIXED overhead regardless of graph size —
    * on the post-contraction graphs this operator actually sees (a 1M-doc
    * LSH graph contracts to a few thousand surviving roots) the loop is
    * pure scheduling latency, while a 100k-edge collect is a few MB on
    * the driver. Graphs above the threshold take the loop unchanged, so
    * the worst case stays distributed; pass `localThreshold = 0` to force
    * it.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 25, localThreshold: Long = 100000L): DataFrame = {
    val plain = edges.select(col("src"), col("dst"))
    val probe = math.min(localThreshold + 1, Int.MaxValue.toLong).toInt
    if (plain.limit(probe).count() <= localThreshold)
      return localComponents(nodes, plain)
    val und = plain
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    def checksum(df: DataFrame): Long =
      Option(df.agg(sum("label")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    // Labels only ever decrease, so Σlabel strictly decreases until the
    // fixpoint: convergence is "checksum unchanged" — one cheap
    // single-column aggregate per round instead of a change-count join.
    var prevSum = checksum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // Step 1: take the min label over neighbors.
      val nbrMin = und.join(labels, und("dst") === labels("node"))
        .groupBy(und("src").as("node")).agg(min("label").as("nbl"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbl"), col("label"))).as("label"))
      // Step 2: pointer jumping — adopt your label's label, halving chain
      // depth per round (turns O(diameter) rounds into O(log diameter)).
      // Lazy checkpoint: the checksum aggregate right below is the single
      // materializing job of the round (an eager checkpoint would run the
      // same plan twice — once to persist, once to sum).
      val next = stepped
        .join(
          stepped.select(col("node").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
      val s = checksum(next)
      done = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    require(done, s"connectedComponents: not converged after $maxIter rounds")
    labels
  }

  /** Driver-local fallback for [[connectedComponents]]: union-find with
    * path compression, always attaching the larger root under the smaller
    * so every tree's root is its component's minimum id (the same label
    * the distributed loop converges to). Labels broadcast-join back onto
    * `nodes`; isolated nodes label themselves.
    */
  private def localComponents(nodes: DataFrame, plainEdges: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    val touched = scala.collection.mutable.LongMap.empty[Unit]
    plainEdges.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      touched.update(a, ()); touched.update(b, ())
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val sp = nodes.sparkSession
    import sp.implicits._
    val labels = touched.keysIterator.map(n => (n, find(n))).toSeq
      .toDF("node", "label")
    nodes.select(col("node"))
      .join(broadcast(labels), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** One star-contraction round: collapse every node into its parent
    * `p(v) = min(v, min neighbor)` and rewrite edges between parents.
    * Requires edges oriented (src, dst) with dst < src (band-star edges
    * guarantee it). Component structure is preserved, and the component's
    * global minimum id is never a src (its dsts would be smaller), so it
    * stays its own parent and survives as the eventual label. Returns
    * (parents, contractedEdges); contracted edges are canonicalized back
    * to dst < src.
    */
  def contractStars(edges: DataFrame): (DataFrame, DataFrame) = {
    val parents = edges.groupBy("src").agg(min(col("dst")).as("p"))
    val contracted = edges
      .join(parents, "src")
      .join(parents.select(col("src").as("dst"), col("p").as("pd")),
        Seq("dst"), "left")
      .select(col("p").as("a"), coalesce(col("pd"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct()
    (parents, contracted)
  }

  /** End-to-end near-dup clustering: MinHash signatures → band-star edges →
    * one star contraction → connected components on the contracted graph →
    * expand. Output: (idCol, cluster_id, is_keeper) for every document;
    * cluster_id is the component's min doc id and its owner is the keeper
    * (deterministic, like exactByHash's min-id keeper).
    *
    * The contraction shrinks the iterated label state from "every node
    * with an edge" to "every surviving parent" BEFORE the O(log n) CC
    * rounds — on LSH graphs most docs collapse into their bucket root in
    * this single cheap step, so each CC round shuffles roots, not docs.
    * Isolated documents never enter the loop at all and join back in one
    * final pass.
    */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
      bands: Seq[Seq[String]] = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")),
      localThreshold: Long = 100000L): DataFrame = {
    val sig = Dedup.minHashSignature(docs, idCol, textCol)
    clustersFromEdges(docs, idCol, bandStarEdges(sig, idCol, bands),
      localThreshold)
  }

  /** Components + keeper labels from a (src, dst) edge relation — the
    * engine under [[dedupClusters]], factored so any similarity join's
    * pairs close into clusters the same way (edit distance, SRP, pHash).
    * Output: (idCol, cluster_id = min reachable id, is_keeper).
    */
  def clustersFromEdges(docs: DataFrame, idCol: String, edges: DataFrame,
      localThreshold: Long = 100000L): DataFrame = {
    // Materialize the edge list ONCE: everything downstream (the size
    // probe, contraction, the CC loop's own checkpoints, the final
    // expansion) re-materializes its inputs several times, and without
    // this cut each of those would recompute the full pair pipeline. Every
    // further eager materialization costs a fixed ~0.5-1 s of stage
    // overhead regardless of row count, so the structure below adds NO
    // other checkpoint on the small-graph path.
    val cut = edges.localCheckpoint()
    val probe = math.min(localThreshold + 1, Int.MaxValue.toLong).toInt
    val labels =
      if (cut.limit(probe).count() <= localThreshold) {
        // Below the threshold, skip contraction AND the distributed loop:
        // one driver union-find + one broadcast join back.
        localComponents(docs.select(col(idCol).as("node")), cut)
      } else {
        // At-scale path: one star contraction shrinks the iterated label
        // state to surviving roots, then the O(log n)-round loop. The
        // contracted edges feed three consumers (node list, probe, solve);
        // cut once so the contraction joins run once.
        val (parents, cEdges0) = contractStars(cut)
        val cEdges = cEdges0.localCheckpoint()
        val cNodes = cEdges.select(col("src").as("node"))
          .unionByName(cEdges.select(col("dst").as("node"))).distinct()
        val cc = connectedComponents(cNodes, cEdges,
          localThreshold = localThreshold)
        // Expand: node → parent (itself when never a src) → component
        // label (the parent itself when its contracted component is a
        // singleton). The id list comes from `docs` directly — deriving
        // it from `sig` would recompute the signatures just to project
        // the ids back out.
        docs.select(col(idCol).as("node"))
          .join(parents.select(col("src").as("node"), col("p")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("p"), col("node")).as("pr"))
          .join(cc.select(col("node").as("pr"), col("label")), Seq("pr"), "left")
          .select(col("node"),
            coalesce(col("label"), col("pr")).as("label"))
      }
    labels.select(col("node").as(idCol),
      col("label").as("cluster_id"),
      (col("label") === col("node")).cast("int").as("is_keeper"))
  }

  /** Incremental CLUSTER assignment: each arriving document adopts the
    * cluster of any corpus document it shares an LSH band with — the
    * O(batch) online counterpart of [[dedupClusters]], probing two
    * build-once corpus structures (`corpusLabels` = a prior
    * [[dedupClusters]] run; `corpusBandRows` =
    * [[Dedup.corpusBandRows]]). A batch doc colliding with members of
    * several clusters takes the MINIMUM cluster id (consistent with the
    * min-id label convention) but does NOT merge those clusters — the
    * standard online approximation; the periodic full re-cluster
    * reconciles bridges, on the same cadence as the index rebuild.
    * Batch docs are assigned independently (no intra-batch clustering —
    * that is the per-document ingest decision; run [[dedupClusters]]
    * over admitted docs for batch-internal groups). A doc colliding with
    * nothing founds its own cluster (label = its id, keeper). Output
    * matches [[dedupClusters]]: (idCol, cluster_id, is_keeper).
    */
  def assignToClusters(corpusLabels: DataFrame, corpusBandRows: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      bands: Seq[Seq[String]] = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
      : DataFrame = {
    val bRows = Dedup.corpusBandRows(batch, idCol, textCol, bands)
      .select(col(idCol).as("__bid"), col("band_id"), col("bk"))
    val cRows = corpusBandRows
      .select(col(idCol).as("__cid"), col("band_id"), col("bk"))
    adopt(corpusLabels,
      bRows.join(cRows, Seq("band_id", "bk")).select("__bid", "__cid"),
      batch, idCol)
  }

  /** The adoption step of every online clustering member (LSH
    * [[assignToClusters]], `Fuzzy.assignToEditClusters`,
    * `Similarity.assignToSrpClusters`, `Multimodal.assignToPhashClusters`):
    * the first two columns of `pairs` hold (batch id, corpus id) matches,
    * whatever their names (each caller keeps its own — a rename would put
    * an alias into the pair relation's plan); each batch id adopts the
    * MINIMUM `cluster_id` of its matched corpus ids in `corpusLabels`
    * (idCol, cluster_id) — bridged clusters are not merged — or founds its
    * own cluster when nothing matched. Output: (idCol, cluster_id,
    * is_keeper) for every row of `batch`.
    */
  def adopt(corpusLabels: DataFrame, pairs: DataFrame, batch: DataFrame,
      idCol: String): DataFrame = {
    val Seq(a, b) = pairs.columns.toSeq.take(2)
    val adopted = pairs
      .join(corpusLabels.select(col(idCol).as(b),
        col("cluster_id").as("__cl")), b)
      .groupBy(col(a)).agg(min(col("__cl")).as("__cl"))
    batch.select(col(idCol))
      .join(adopted.select(col(a).as(idCol), col("__cl")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__cl"), col(idCol)).as("cluster_id"))
      .withColumn("is_keeper", (col("cluster_id") === col(idCol)).cast("int"))
  }

  /** Leakage-free train/val/test split: hash the near-dup CLUSTER id, not
    * the document id. A plain per-document hash split (q42) puts two
    * near-duplicates on opposite sides of the train/test fence roughly
    * `2·p·(1−p)` of the time — the classic eval-contamination bug; hashing
    * the [[dedupClusters]] label instead sends every near-dup family to
    * the same side wholesale. Output: (idCol, cluster_id, split).
    *
    * Scale: the split itself is a pure projection over the cluster
    * labels — all the cost is the clustering, which a pipeline runs once
    * and reuses ([[assignToClusters]] extends labels to arriving batches,
    * whose split assignment is then the same hash of the adopted id).
    */
  def leakageFreeSplit(docs: DataFrame, idCol: String, textCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    dedupClusters(docs, idCol, textCol)
      .select(col(idCol), col("cluster_id"),
        Sampling.splitAssign(col("cluster_id"), trainPct, valPct)
          .as("split"))

  /** Split-leakage AUDIT — the complement of [[leakageFreeSplit]]: given
    * ANY split assignment (a column over `docs`), count the LSH near-dup
    * candidate pairs that straddle split boundaries, per (split, split)
    * cell. Zero off-diagonal = no family crosses the fence; a per-doc
    * hash split (q42) audited here shows exactly the eval contamination
    * [[leakageFreeSplit]] removes. Output: (split_a ≤ split_b, n_pairs).
    *
    * Scale: the audit needs pair COUNTS per cell, not the pairs — so no
    * pair is ever materialized. Per band, bucket the signatures and count
    * docs per (bucket, split); a bucket with counts (c_train, c_val, …)
    * contributes C(c,2) same-split and c_a·c_b cross-split pairs, summed
    * in a self-join over the AGGREGATED (|buckets|·|splits|-row) relation.
    * Pairs colliding in several bands are de-duplicated by
    * inclusion-exclusion over band subsets (a subset's joint bucket key is
    * the concatenation of its bands' columns; 2^|bands|−1 terms — |bands|
    * is 2-4). Replaces the candidate-pair materialize + distinct, which
    * is Θ(Σ bucket²) rows before the distinct — THE cost center of every
    * exact similarity join — with |bands| scans of counts: 9.8 s → the
    * aggregation floor at sf0.1, and at 100 TB the difference between a
    * pair explosion and a linear groupBy.
    */
  def splitLeakageAudit(docs: DataFrame, idCol: String, textCol: String,
      split: org.apache.spark.sql.Column,
      bands: Seq[Seq[String]] = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
      : DataFrame = {
    val sig = Dedup.minHashSignature(docs, idCol, textCol)
    val sp = docs.select(col(idCol), split.as("__sp"))
    // One (id, mh…, split) relation feeds every inclusion-exclusion term.
    val tagged = sig.join(sp, idCol).localCheckpoint(eager = false)
    val terms = (1 until (1 << bands.size)).map { m =>
      val idxs = (0 until bands.size).filter(i => ((m >> i) & 1) == 1)
      val keyCols = idxs.flatMap(bands(_))
      val sign = if (idxs.size % 2 == 1) 1L else -1L
      val g = tagged
        .groupBy((keyCols.map(col) :+ col("__sp")): _*)
        .agg(count(lit(1)).as("__c"))
      val a = g.select(keyCols.map(col) :+ col("__sp").as("__sa")
        :+ col("__c").as("__ca"): _*)
      val b = g.select(keyCols.map(col) :+ col("__sp").as("__sb")
        :+ col("__c").as("__cb"): _*)
      a.join(b, keyCols)
        .filter(col("__sa") <= col("__sb"))
        .select(
          col("__sa").as("split_a"), col("__sb").as("split_b"),
          // c·(c−1) is even, so the >>1 is an exact halve — and stays
          // LongType, where `/` would promote to double and the cell
          // counts would round at corpus scale.
          (when(col("__sa") === col("__sb"),
              shiftright(col("__ca") * (col("__ca") - lit(1L)), 1))
            .otherwise(col("__ca") * col("__cb")) * lit(sign)).as("__n"))
    }
    terms.reduce(_ unionByName _)
      .groupBy("split_a", "split_b")
      .agg(sum(col("__n")).as("n_pairs"))
      .filter(col("n_pairs") =!= 0L)
  }

  /** CROSS-SOURCE duplicate-FLOW matrix: for every (source_a ≤ source_b)
    * pair, how many exact-duplicate document pairs span them — the "who
    * copies whom" complement of [[dupRateByGroup]]'s per-source rate
    * (mirror feeds, syndication, and re-crawls show up as heavy
    * off-diagonal cells; the diagonal is within-source redundancy).
    *
    * Counted COMBINATORIALLY (the q134 leakage-audit lesson): aggregate
    * to per-(text, source) multiplicities first, then pair counts are
    * c_a·c_b (cross) and C(c,2) (diagonal) — a duplicate group of g docs
    * contributes g·(g−1)/2 pairs as arithmetic on ≤|sources| rows, never
    * as materialized pairs (the corpus carries groups of thousands;
    * their pair sets are Θ(g²)).
    */
  def crossSourceDupMatrix(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val cnt = docs.groupBy(col(textCol).as("__t"), col(groupCol))
      .agg(count(lit(1)).as("__c"))
    val a = cnt.select(col("__t"), col(groupCol).as("source_a"),
      col("__c").as("__ca"))
    val b = cnt.select(col("__t"), col(groupCol).as("source_b"),
      col("__c").as("__cb"))
    val agg = a.join(b, Seq("__t"))
      .filter(col("source_a") <= col("source_b"))
      .select(col("source_a"), col("source_b"),
        when(col("source_a") === col("source_b"),
          shiftright(col("__ca") * (col("__ca") - lit(1L)), 1))
          .otherwise(col("__ca") * col("__cb")).as("__n"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("__n")).as("__p"))
    // the COMPLETE (|sources|²+|sources|)/2 matrix, zero cells explicit —
    // a dashboard reads "no flow" from a 0, not from absence; |sources|
    // is tiny, the triangle join is driver-negligible
    val srcs = docs.select(col(groupCol)).distinct()
    srcs.select(col(groupCol).as("source_a"))
      .join(srcs.select(col(groupCol).as("source_b")),
        col("source_a") <= col("source_b"))
      .join(agg, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("__p"), lit(0L)).as("n_pairs"))
  }

  /** Per-group duplicate-rate dashboard — the number the ingest gate's
    * per-signal flags ultimately feed: for each `groupCol` value (source,
    * crawl, language…), how many documents sit in a non-singleton
    * near-dup cluster, and the rate. The canonical curation monitor for
    * "which feed is flooding us with copies".
    *
    * Scale: the clustering dominates (run once, reuse); on top of it this
    * is one per-cluster count (|clusters| rows — AQE broadcasts it), one
    * join back, one groupBy on `groupCol`.
    */
  def dupRateByGroup(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val cl = dedupClusters(docs, idCol, textCol)
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("__csz"))
    docs.select(col(idCol), col(groupCol))
      .join(cl.select(col(idCol), col("cluster_id")), idCol)
      .join(sizes, "cluster_id")
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("__csz") > 1).cast("long")).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6))
  }
}
