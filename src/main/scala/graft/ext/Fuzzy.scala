package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) similarity joins — the STRING member of the
  * exact similarity-join family (set Jaccard/cosine/containment live in
  * [[Dedup]], vector cosine in [[Similarity]]): all pairs with
  * `levenshtein(a, b) <= k`, found without comparing all pairs.
  *
  * Candidate generation is the PassJoin segment pigeonhole (Li, Deng, Feng,
  * "PassJoin: a partition-based method for similarity joins", VLDB 2012;
  * cf. ariadnes-thread's fuzzy tag matching, which scans linearly): split
  * every string into `k+1` contiguous segments; if `ed(s, t) <= k` then `t`
  * contains at least one of `s`'s segments VERBATIM, within `k` positions of
  * its home offset, and `|len(s) - len(t)| <= k`. So the index side emits
  * k+1 (segment, idx, len) rows per string and the probe side emits the
  * bounded set of substrings that could equal a segment of a partner of any
  * admissible length — `(2k+1)·(k+1)·(2k+1)` combinations of (length delta,
  * segment idx, position shift), all LITERAL, so the enumeration is one
  * posexplode over a constant array with pure codegen'd substring
  * arithmetic. Candidates equi-join on (substring, idx, partner length) —
  * a hash join, never a nested loop — then `distinct` (a pair can collide
  * on several segments) and a codegen'd `levenshtein <= k` verify.
  *
  * Strings shorter than `k + 1` cannot give k+1 non-empty segments (an
  * empty segment matches everything); they route through a brute path
  * restricted to lengths `<= 2k + 1` (any partner of a short string is
  * itself short, by the length filter) that nested-loops over the
  * DISTINCT short-string universe — bounded by alphabet^(2k+1), tiny in
  * practice — and re-expands to ids via hash equi-joins on the string
  * value, so repeated short strings are never re-compared.
  *
  * Scale: one exploded scan per side (constant fan-out), one hash-join
  * shuffle on segment keys, distinct, map-side verify. Candidate volume is
  * data-dependent (hot segments — e.g. a shared constant prefix — fan out);
  * the prefix order inside segments is positional, so unlike the set joins
  * there is no rarest-first rescue: pick segment count (= k) against the
  * alphabet. [[segmentIndex]] freezes the index side so batches probe a
  * built corpus in O(batch) ([[incrementalEditDistanceJoin]]), completing
  * the incremental family (Jaccard/containment/cosine `Dedup.scala`,
  * simhash `Dedup.incrementalSimhash`, chunks `Chunker`, SemDeDup).
  */
object Fuzzy {

  /** Segment i (0-based) of a length-L string under the (k+1)-way PassJoin
    * partition, longer segments LAST: base = L div (k+1), r = L mod (k+1);
    * len_i = base + (i >= k+1-r ? 1 : 0);
    * start_i (1-based) = i*base + max(0, i - (k+1-r)) + 1.
    */
  private def segLen(k: Int)(lc: Column, i: Column): Column = {
    val bi = floor(lc.cast("int") / lit(k + 1)).cast("int")
    val r = lc.cast("int") % lit(k + 1)
    bi + when(i >= lit(k + 1) - r, 1).otherwise(0)
  }

  private def segStart(k: Int)(lc: Column, i: Column): Column = {
    val bi = floor(lc.cast("int") / lit(k + 1)).cast("int")
    val r = lc.cast("int") % lit(k + 1)
    i * bi + greatest(lit(0), i - (lit(k + 1) - r)) + lit(1)
  }

  /** Frozen segment index over strings with at least k+1 chars: k+1 rows
    * per string, `(cid, clen, seg_idx, seg)`. Persist next to the corpus
    * strings and probe later batches in O(batch) with
    * [[incrementalEditDistanceJoin]]. Strings under k+1 chars are absent by
    * construction — the incremental short path re-derives them from the
    * corpus relation (a pushed-down `length < k+1` scan, no index needed).
    */
  def segmentIndex(df: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"segmentIndex: 1 <= k <= 8, got $k")
    val segIdx = (0 to k).map(lit(_))
    df.select(col(idCol).as("cid"), col(strCol).as("__cs"),
        length(col(strCol)).as("clen"))
      .filter(col("clen") >= k + 1)
      .select(col("cid"), col("clen"), col("__cs"),
        explode(array(segIdx: _*)).as("seg_idx"))
      .select(col("cid"), col("clen"), col("seg_idx"),
        substring(col("__cs"), segStart(k)(col("clen"), col("seg_idx")),
          segLen(k)(col("clen"), col("seg_idx"))).as("seg"))
  }

  /** Every substring of a probe string that could equal a segment of a
    * partner of admissible length: (2k+1) length deltas × (k+1) segment
    * indices × (2k+1) position shifts — constant fan-out, codegen'd
    * substring arithmetic. Input columns (pid, __s, plen); output
    * (pid, clen = the guessed partner length, seg_idx, seg), equi-joinable
    * against [[segmentIndex]] output.
    */
  private def probeSubstrings(probe: DataFrame, k: Int): DataFrame = {
    val combos = for {
      dl <- -k to k; i <- 0 to k; o <- -k to k
    } yield struct(lit(dl).as("dl"), lit(i).as("i"), lit(o).as("o"))
    probe
      .select(col("pid"), col("__s"), col("plen"),
        explode(array(combos: _*)).as("__c"))
      .withColumn("clen", col("plen") + col("__c.dl"))
      .filter(col("clen") >= k + 1)
      .withColumn("seg_idx", col("__c.i"))
      .withColumn("__sl", segLen(k)(col("clen"), col("seg_idx")))
      .withColumn("__sp", segStart(k)(col("clen"), col("seg_idx")) + col("__c.o"))
      .filter(col("__sp") >= 1 &&
        col("__sp") + col("__sl") - 1 <= col("plen"))
      .select(col("pid"), col("clen"), col("seg_idx"),
        substring(col("__s"), col("__sp"), col("__sl")).as("seg"))
  }

  /** Self-join: all unordered pairs with `levenshtein <= k`.
    * Output `(id_a, id_b, dist)`, id_a < id_b. See object scaladoc.
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"editDistanceJoin: 1 <= k <= 8, got $k")
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"),
      length(col(strCol)).as("__l"))
      .localCheckpoint(eager = false)

    // ---- long path: strings with at least k+1 chars --------------------
    val index = segmentIndex(base, "__id", "__s", k)
    val probe = probeSubstrings(
      base.filter(col("__l") >= k + 1)
        .select(col("__id").as("pid"), col("__s"), col("__l").as("plen")), k)
    // Each qualifying pair is found in BOTH orientations (the pigeonhole
    // applies to either string's partition), so keeping index-id < probe-id
    // loses nothing.
    val candLong = index.join(probe, Seq("seg", "seg_idx", "clen"))
      .filter(col("cid") < col("pid"))
      .select(col("cid").as("ia"), col("pid").as("ib"))

    // ---- short path: strings under k+1 chars (partners are <= 2k+1) ----
    // Brute-compare the DISTINCT STRING UNIVERSE, not the rows: strings of
    // <= 2k+1 chars repeat massively at corpus scale, and the universe is
    // bounded (alphabet^(2k+1) worst case; in practice tiny), so the
    // nested-loop is quadratic in |universe| while ids re-enter only
    // through hash equi-joins on the string value.
    val shortRows = base.filter(col("__l") <= 2 * k + 1)
      .select(col("__id"), col("__s"), col("__l"))
    val su = shortRows.select(col("__s"), col("__l")).distinct()
    val sPairs = su
      .filter(col("__l") < k + 1)
      .select(col("__s").as("__ssa"), col("__l").as("__sla"))
      .join(su.select(col("__s").as("__ssb"), col("__l").as("__slb")),
        abs(col("__sla") - col("__slb")) <= k &&
          levenshtein(col("__ssa"), col("__ssb")) <= k)
      .select(col("__ssa"), col("__ssb"))
    val candShort = sPairs
      .join(shortRows.filter(col("__l") < k + 1)
        .select(col("__id").as("sid"), col("__s").as("__ssa")), Seq("__ssa"))
      .join(shortRows.select(col("__id"), col("__s").as("__ssb")), Seq("__ssb"))
      .filter(col("sid") =!= col("__id"))
      .select(least(col("sid"), col("__id")).as("ia"),
        greatest(col("sid"), col("__id")).as("ib"))

    // ---- verify ---------------------------------------------------------
    val cands = candLong.unionByName(candShort).distinct()
    cands
      .join(base.select(col("__id").as("ia"), col("__s").as("__sa")), "ia")
      .join(base.select(col("__id").as("ib"), col("__s").as("__sb")), "ib")
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= k)
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("dist"))
  }

  /** Edit-distance DEDUP CLUSTERS: connected components of the
    * [[editDistanceJoin]] pair graph, labeled by minimum reachable id with
    * keeper flags — fuzzy dedup carried to its keeper-selection end, the
    * string sibling of `DedupCluster.dedupClusters` (whose contraction +
    * checkpointed-loop CC engine this reuses via `clustersFromEdges`).
    * Output: (idCol, cluster_id, is_keeper).
    */
  def editDistanceClusters(df: DataFrame, idCol: String, strCol: String,
      k: Int, localThreshold: Long = 100000L): DataFrame =
    DedupCluster.clustersFromEdges(df, idCol,
      editDistanceJoin(df, idCol, strCol, k)
        .select(col("id_a").as("src"), col("id_b").as("dst")),
      localThreshold)

  /** Incremental edit-cluster ASSIGNMENT — the string member of the online
    * clustering family (`DedupCluster.assignToClusters` is the LSH
    * sibling): each arriving doc adopts the MINIMUM cluster id among its
    * edit-distance ≤ k corpus matches ([[incrementalEditDistanceJoin]]
    * against the frozen index), does NOT merge bridged clusters (the
    * periodic full [[editDistanceClusters]] reconciles), and founds its
    * own cluster when nothing matches. `corpusLabels` is a prior
    * [[editDistanceClusters]] run over the SAME corpus/key column.
    * Output matches it: (idCol, cluster_id, is_keeper).
    */
  def assignToEditClusters(corpusLabels: DataFrame, index: DataFrame,
      corpus: DataFrame, batch: DataFrame, idCol: String, strCol: String,
      k: Int): DataFrame =
    DedupCluster.adopt(corpusLabels,
      incrementalEditDistanceJoin(index, corpus, batch, idCol, strCol, k),
      batch, idCol)

  /** Incremental probe: every (batch, corpus) pair with `levenshtein <= k`,
    * from a FROZEN corpus — `index` is [[segmentIndex]] output over
    * `corpus` (built once, or loaded from parquet), nothing is rebuilt.
    * The batch side enumerates its (2k+1)²·(k+1) candidate substrings and
    * equi-joins the index: O(batch) work like the other incremental
    * members (`Dedup.incrementalJaccardJoin` et al.). The pigeonhole only
    * needs the CORPUS side partitioned (a batch string containing a corpus
    * segment is the one orientation probed), so completeness holds for
    * batch strings of any length, including under k+1 chars.
    * Batch-batch pairs are NOT reported (same contract as q112–q114).
    * Output `(id_a, id_b, dist)` = (batch id, corpus id, distance).
    */
  def incrementalEditDistanceJoin(index: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, strCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 8,
      s"incrementalEditDistanceJoin: 1 <= k <= 8, got $k")
    val c = corpus.select(col(idCol).as("cid"), col(strCol).as("__cs"),
      length(col(strCol)).as("clen"))
    val b = batch.select(col(idCol).as("pid"), col(strCol).as("__s"),
      length(col(strCol)).as("plen"))
      .localCheckpoint(eager = false)

    val candLong = index.join(probeSubstrings(b, k), Seq("seg", "seg_idx", "clen"))
      .select(col("cid"), col("pid"))
    // Corpus strings under k+1 chars are not in the index; their batch
    // partners have length <= 2k. Same distinct-universe discipline as the
    // self-join: nested-loop over distinct short STRINGS, ids re-enter by
    // hash equi-joins.
    val bShort = b.filter(col("plen") <= 2 * k)
      .select(col("pid"), col("__s"), col("plen"))
    val cShort = c.filter(col("clen") < k + 1)
      .select(col("cid"), col("__cs"), col("clen"))
    val sPairs = bShort.select(col("__s"), col("plen")).distinct()
      .join(cShort.select(col("__cs"), col("clen")).distinct(),
        abs(col("plen") - col("clen")) <= k &&
          levenshtein(col("__s"), col("__cs")) <= k)
      .select(col("__s"), col("__cs"))
    val candShort = sPairs
      .join(bShort.select(col("pid"), col("__s")), Seq("__s"))
      .join(cShort.select(col("cid"), col("__cs")), Seq("__cs"))
      .select(col("cid"), col("pid"))

    candLong.unionByName(candShort).distinct()
      .join(c.select(col("cid"), col("__cs")), "cid")
      .join(b.select(col("pid"), col("__s")), "pid")
      .withColumn("dist", levenshtein(col("__s"), col("__cs")))
      .filter(col("dist") <= k)
      .select(col("pid").as("id_a"), col("cid").as("id_b"), col("dist"))
  }

  /** SORTED-NEIGHBORHOOD record linkage (Hernández & Stolfo 1995): rank
    * all records by the blocking key, slide a `window`-row neighborhood
    * down the sorted order, and verify `levenshtein ≤ k` on the
    * candidates — the classic cheap blocker beside the PassJoin segment
    * pigeonhole (a DELIBERATE heuristic: a pair whose keys sort ≥
    * `window` apart is missed by contract; PassJoin is the exact path).
    * Output (id_a, id_b, dist): verified pairs with rank(a) < rank(b).
    *
    * Scale shape: the global rank is TWO-PHASE, never a one-partition
    * window over the data — records bucket by a `prefixLen`-char key
    * prefix (prefix blocks are contiguous in key order, so bucket-major
    * + within-bucket order IS the global order); phase 1's window sees
    * |alphabet|^prefixLen bucket rows, phase 2 ranks within buckets in
    * parallel against broadcast base offsets (the Packing.packSequences
    * cumsum discipline). The neighborhood self-join is a banded
    * rank-cell equi-join (cells of `window` ranks, probe side exploded
    * to ±1 — the RangeJoin.banded shape), so candidate volume is exactly
    * n·(window−1) and no sort-merge ever sees the full cross product.
    */
  def sortedNeighborhoodJoin(df: DataFrame, idCol: String, keyCol: String,
      window: Int, k: Int, prefixLen: Int = 2): DataFrame = {
    require(window >= 2, s"sortedNeighborhoodJoin: window >= 2")
    require(k >= 0 && prefixLen >= 1, "sortedNeighborhoodJoin: k >= 0, prefixLen >= 1")
    import org.apache.spark.sql.expressions.{Window => W}
    val base = df.select(col(idCol).as("__id"), col(keyCol).as("__k"))
      .withColumn("__b", substring(col("__k"), 1, prefixLen))
    val bases = base.groupBy("__b").agg(count(lit(1)).as("__bc"))
      .withColumn("__base", coalesce(sum(col("__bc")).over(
        W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__base"))
    val wLoc = W.partitionBy("__b").orderBy(col("__k"), col("__id"))
    val ranked = base.join(broadcast(bases), Seq("__b"))
      .withColumn("__r", col("__base") + row_number().over(wLoc))
      .select(col("__id"), col("__k"), col("__r"))
      .localCheckpoint() // feeds both neighborhood-join sides
    val a = ranked.select(col("__id").as("id_a"), col("__k").as("__ka"),
        col("__r").as("__ra"))
      .withColumn("__cell", expr(s"__ra div ${window}L"))
    val b = ranked.select(col("__id").as("id_b"), col("__k").as("__kb"),
        col("__r").as("__rb"))
      .withColumn("__c0", expr(s"__rb div ${window}L"))
      .withColumn("__cell",
        explode(array(col("__c0") - 1, col("__c0"), col("__c0") + 1)))
      .drop("__c0")
    // a pair meets in exactly one of the probe's three cells — no dedup
    a.join(b, Seq("__cell"))
      .filter(col("__rb") > col("__ra") &&
        col("__rb") - col("__ra") <= window - 1)
      .withColumn("dist", levenshtein(col("__ka"), col("__kb")))
      .filter(col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
