package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Fuzzy, Similarity, TextHash}

/** Round-5 widening: exact similarity joins beyond Jaccard (tf-weighted
  * cosine, asymmetric containment) and the seeded random-projection
  * sketch — the remaining first-class pieces of a dedup/similarity stack
  * at corpus scale.
  */
object SimilarityQueries {

  /** Q103 [X]: exact all-pairs COSINE join over bigram tf vectors at
    * τ = 4/5 — the weighted complement of q86's set-Jaccard (tf weighting
    * separates "same vocabulary" from "same emphasis"). Threshold
    * compares as integers on both engines (tauDen²·dot² ≥ tauNum²·n2a·n2b);
    * the twin brute-forces via the (doc, gram, tf) self-join. τ is the
    * production near-dup setting: at low τ the prefix/positional bounds
    * cannot discriminate (at τ=1/2 this corpus admits 8M of 12.5M
    * possible pairs as candidates — that sweep belongs to the LSH path,
    * q19b/q25), while at 4/5 candidates collapse to the true near-dups.
    */
  val q103 = OracleQuery(
    "q103_cosine_join",
    (s, d) => Dedup.cosineSimilarityJoin(
      Tables.documents(s, d), "doc_id", "text", n = 2, tauNum = 4, tauDen = 5),
    Some(Dedup.gramJoinSql(Dedup.Cosine, 4, 5)),
  )

  /** Q104 [X]: seeded ±1 random projection (JL sketch) of the embeddings
    * to k = 16 dims, long format. Signs come from the engine-portable
    * md5-digit hash of "i_j"; terms truncate at 2^-40 so the sums are
    * exact integers on both engines (no accumulation-order drift).
    */
  val q104 = OracleQuery(
    "q104_random_projection",
    (s, d) => Similarity.randomProject(
      Tables.embeddings(s, d), "embedding", "vec_id", k = 16),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
                  x AS (SELECT vec_id, unnest(v) AS x,
                               generate_subscripts(v, 1) - 1 AS i FROM e),
                  m AS (SELECT i.i, j.j,
                               CASE WHEN ${TextHash.tokenHashSql(
                                 "(i.i || '_' || j.j)")} % 2 = 0
                                    THEN 1.0 ELSE -1.0 END AS s
                        FROM generate_series(0, 63) AS i(i),
                             generate_series(0, 15) AS j(j)),
                  t AS (SELECT vec_id, j,
                               CAST(trunc(x * s * 1099511627776.0) AS BIGINT) AS term
                        FROM x JOIN m USING (i))
             SELECT vec_id, CAST(j AS INTEGER) AS j,
                    round(CAST(sum(term) AS DOUBLE) / 1099511627776.0, 6) AS value
             FROM t GROUP BY 1, 2"""),
  )

  /** Q105 [X]: exact all-pairs CONTAINMENT join (|A∩B|/|A| ≥ 4/5 over
    * distinct bigram sets) — catches quotes/excerpts/supersets that
    * Jaccard's union denominator drowns when |B| ≫ |A|. Integer threshold
    * on both engines; the twin brute-forces the directional pairs.
    */
  val q105 = OracleQuery(
    "q105_containment_join",
    (s, d) => Dedup.containmentJoin(
      Tables.documents(s, d), "doc_id", "text", n = 2, tauNum = 4, tauDen = 5),
    Some(Dedup.gramJoinSql(Dedup.Containment, 4, 5)),
  )

  /** Q106 [X]: reciprocal-rank fusion — the standard hybrid-retrieval
    * combiner (Cormack et al. SIGIR'09): fuse a lexical ranking (BM25
    * top-20 for fixed terms) with a dense ranking (cosine top-20 against
    * query vector 0, vec_id joined as doc id) by score = Σ 1/(60 + rank).
    * Each document contributes at most two terms, so the double sum is
    * order-free; ranks are integers from the engines' own (already
    * parity-proven) top-k shapes. Output: fused top-10 with both
    * source ranks (−1 = absent from that list).
    */
  val q106 = OracleQuery(
    "q106_rank_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.ext.Retrieval.bm25TopK(
        Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "merge", "shuffle"), 20)
        .select(col("doc_id"), col("rnk").cast("long").as("r_lex"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")).as("qv"))
      val dense = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") > 0), "embedding", "vec_id", q, 20)
        .withColumn("r_dense",
          row_number().over(Window.orderBy(desc("cos_r"), col("vec_id")))
            .cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_dense"))
      val fused = lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
          coalesce(col("r_dense"), lit(-1L)).as("r_dense"),
          round(
            when(col("r_lex").isNotNull, lit(1.0) / (col("r_lex") + 60.0))
              .otherwise(0.0) +
            when(col("r_dense").isNotNull, lit(1.0) / (col("r_dense") + 60.0))
              .otherwise(0.0), 6).as("rrf"))
      fused.orderBy(desc("rrf"), col("doc_id")).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("rrf"), col("doc_id"))).cast("long"))
    },
    Some(s"""WITH lex AS (${graft.ext.Retrieval.bm25OracleSql(
               Seq("spark", "merge", "shuffle"), 20)}),
              e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              dense AS (SELECT vec_id AS doc_id,
                               CAST(row_number() OVER (ORDER BY cos_r DESC, vec_id) AS BIGINT) AS r_dense
                        FROM (SELECT vec_id,
                                     round(list_dot_product(v, qv) /
                                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_r
                              FROM e, qv WHERE vec_id > 0
                              ORDER BY cos_r DESC, vec_id LIMIT 20)),
              f AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
                           coalesce(CAST(l.rnk AS BIGINT), -1) AS r_lex,
                           coalesce(d.r_dense, -1) AS r_dense,
                           round(coalesce(1.0 / (l.rnk + 60.0), 0.0) +
                                 coalesce(1.0 / (d.r_dense + 60.0), 0.0), 6) AS rrf
                    FROM (SELECT doc_id, rnk FROM lex) l
                    FULL OUTER JOIN dense d ON d.doc_id = l.doc_id)
         SELECT doc_id, r_lex, r_dense, rrf,
                CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
         FROM f ORDER BY rrf DESC, doc_id LIMIT 10"""),
  )

  /** Q108 [X, certificate]: IVF-PQ (IVFADC) — the production ANN
    * composition: coarse cells prune the scan, residual PQ codes shrink
    * it, exact re-rank fixes the top. Certificate oracle like q74/q91:
    * DuckDB recomputes exact cosines for the returned ids.
    */
  private val IvfPqCert = new AnnCert
  val q108 = OracleQuery(
    "q108_ivfpq_ann",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = IvfPqCert.queryVec(emb)
      val model = graft.ext.IvfPq.build(emb, "embedding", "vec_id",
        nlist = 16, m = 8, ksub = 16, maxIter = 5)
      IvfPqCert.record(graft.ext.IvfPq.search(model, emb, "embedding",
        "vec_id", qv, nprobe = 4, k = 5))
    },
    None,
    dynOracle = IvfPqCert.oracle,
  )

  /** Q109 [X]: simhash Hamming near-dup pairs (Manku et al. WWW'07) —
    * all pairs within Hamming distance 1 of the 16-bit fingerprint, via
    * band pigeonholing (2 bands × 8 bits: one flipped bit must leave one
    * band untouched). Candidates pay only an XOR-popcount verification;
    * the twin brute-forces the n²/2 bit comparisons. All-integer — no
    * float parity surface at all. Radius 1 because a 16-bit fingerprint
    * over this clustered corpus is coarse (radius 3 admits 4.3M pairs at
    * sf0.1 — a wider fingerprint, not a wider radius, is the production
    * answer: q111 runs it, 64-bit at radius 3).
    */
  val q109 = OracleQuery(
    "q109_simhash_pairs",
    (s, d) => Dedup.simHashNearDupPairs(
      Tables.documents(s, d), "doc_id", "text", maxDist = 1),
    Some(s"""WITH sig AS (${ExtQueries.simhashSql})
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
         FROM sig a JOIN sig b ON b.doc_id > a.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 1"""),
  )

  /** Q110 [X]: exact-size weighted sampling without replacement
    * (Efraimidis–Spirakis exponential clocks) — 20 docs per source,
    * weight = n_chars, so longer documents are proportionally more
    * likely. Key = −ln(u)/w on the portable hash; ranked on the ROUNDED
    * key with the id tiebreak (the q47/q48 ln-parity discipline). The
    * verified projection carries MEMBERSHIP and rank only — the float key
    * itself stays out of the hash compare, because a last-ulp libm `ln`
    * drift landing exactly on the 1e-9 rounding boundary would flip the
    * emitted key even when the sample is identical (the round-then-
    * tiebreak discipline protects the ORDER, not the key's own digits).
    */
  val q110 = OracleQuery(
    "q110_weighted_sample_topk",
    (s, d) => graft.ext.Sampling.weightedSample(
      Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars")),
      "doc_id", "source", col("n_chars"), n = 20)
      .select(col("doc_id"), col("source"), col("rnk")),
    Some(s"""WITH h AS (SELECT doc_id, source, n_chars,
                     ${TextHash.tokenHashSql("CAST(doc_id AS VARCHAR)")} AS hv
              FROM documents),
              k AS (SELECT doc_id, source,
                     round(-ln((hv + 1.0) / 1e8) / CAST(n_chars AS DOUBLE), 9) AS skey
                    FROM h),
              r AS (SELECT *, CAST(row_number() OVER
                      (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT) AS rnk
                    FROM k)
         SELECT doc_id, source, rnk FROM r WHERE rnk <= 20"""),
  )

  /** DuckDB twin of `Dedup.simHash64Signature`: four salted md5-digit
    * hashes per token, 64 ±1 vote sums, fingerprint assembled in HUGEINT
    * then wrapped to the signed BIGINT two's complement Spark's long
    * carries (DuckDB xor/bit_count on BIGINT are two's-complement, so the
    * pair verification is bit-identical).
    */
  private[queries] val simhash64Sql: String = {
    val hs = (0 until 4).map { k =>
      val e = if (k == 0) "w" else s"w || '|$k'"
      s"${TextHash.tokenHashSql(e)} AS h$k"
    }.mkString(",\n                 ")
    val sums = (0 until 64).map(j =>
      s"CAST(SUM(CASE WHEN (h${j / 16} >> ${j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j")
      .mkString(",\n                 ")
    val bits = (0 until 64).map(j =>
      s"(CASE WHEN s$j >= 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            hh AS (SELECT doc_id, $hs FROM tok),
            b AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
            uu AS (SELECT doc_id, ($bits) AS u FROM b)
            SELECT doc_id, ${StubCodecSql.signed64("u")} AS simhash
            FROM uu"""
  }

  /** Q111 [X]: 64-bit simhash Hamming near-dup pairs at radius 3 — the
    * production configuration of q109 (16-bit bands, 65536 buckets per
    * band, so candidate volume stays linear where 16-bit band keys go
    * Θ(n²/16)). The twin brute-forces the n²/2 XOR-popcounts over the
    * independently recomputed 64-bit fingerprints. All-integer — no float
    * parity surface.
    */
  val q111 = OracleQuery(
    "q111_simhash64_pairs",
    (s, d) => Dedup.simHash64NearDupPairs(
      Tables.documents(s, d), "doc_id", "text", maxDist = 3),
    Some(s"""WITH sig AS ($simhash64Sql)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
         FROM sig a JOIN sig b ON b.doc_id > a.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
  )

  /** Q112 [X]: EXACT incremental Jaccard join — the 10%-of-ids "batch"
    * against the frozen GramIndex of the other 90% at τ = 1/2: every
    * (batch, corpus) pair over the threshold with exact overlap. The
    * ingest-time exact complement of q76's LSH probe (O(batch·matches),
    * nothing rebuilt); unseen batch grams take negative dictionary ids so
    * the shared prefix order stays total. The twin brute-forces the
    * cross-partition gram join.
    */
  val q112 = OracleQuery(
    "q112_incremental_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = Dedup.gramIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 2)
      Dedup.incrementalJaccardJoin(idx,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        tauNum = 1, tauDen = 2)
    },
    Some(Dedup.gramJoinSql(Dedup.Jaccard, 1, 2, batch = true)),
  )

  /** Q113 [X]: EXACT incremental CONTAINMENT join — the 10%-of-ids
    * "batch" probed against the frozen GramIndex of the other 90% at
    * τ = 3/5: every (batch doc A, corpus doc B) with |A∩B|/|A| ≥ τ —
    * arriving quotes/excerpts of the frozen corpus detected at ingest,
    * O(batch) like q112 but asymmetric (batch-side prefix, corpus-side
    * full index). The twin brute-forces the cross-partition gram join.
    */
  val q113 = OracleQuery(
    "q113_incremental_containment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = Dedup.gramIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 2)
      Dedup.incrementalContainmentJoin(idx,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        tauNum = 3, tauDen = 5)
    },
    Some(Dedup.gramJoinSql(Dedup.Containment, 3, 5, batch = true)),
  )

  /** Q114 [X]: EXACT incremental COSINE join — the 10%-of-ids "batch"
    * probed against the frozen GramIndex of the other 90% at τ = 7/10:
    * tf-weighted near-dups detected at ingest (the weighted complement of
    * q112's set-Jaccard). Batch grams outside the corpus vocabulary stay
    * in the batch norm but not the vectors (they can't contribute to any
    * dot product), so the twin's full-corpus tf brute force agrees
    * exactly. Integer dot + HUGEINT threshold on the DuckDB side.
    */
  val q114 = OracleQuery(
    "q114_incremental_cosine",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = Dedup.gramIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 2)
      Dedup.incrementalCosineJoin(idx,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        tauNum = 7, tauDen = 10)
    },
    Some(Dedup.gramJoinSql(Dedup.Cosine, 7, 10, batch = true)),
  )

  /** Q115 [X]: GramIndex APPEND maintenance certificate — the index is
    * built over 90% of the corpus, the other 10% is `append`ed (frozen
    * dictionary, batch-new grams ranked past the corpus tail, O(batch)
    * encode), and the full all-pairs Jaccard join at τ = 1/2 runs over
    * the appended index. The twin is q86's full-corpus brute force — the
    * appended index must reproduce the from-scratch result bit for bit,
    * proving exactness never depended on the rarest-first rank order the
    * append path degrades.
    */
  val q115 = OracleQuery(
    "q115_gram_index_append",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = Dedup.gramIndex(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 2)
        .append(docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      Dedup.jaccardSimilarityJoin(idx, tauNum = 1, tauDen = 2)
    },
    Some(Dedup.gramJoinSql(Dedup.Jaccard, 1, 2)),
  )

  /** Q116 [X]: persisted gram-index certificate — build the corpus
    * GramIndex, write it to parquet (`IndexStore.writeGramIndex`), load
    * it back, and run the full all-pairs Jaccard join FROM THE STORE.
    * The twin is q86's in-memory brute force, so the hash match proves
    * the at-rest form loses nothing: a later session probes/appends
    * without re-running the corpus pipeline. Result is small (the τ=1/2
    * pair set), so the q92 collect-and-clean pattern applies — no /tmp
    * leak per Verify/Bench invocation.
    */
  val q116 = OracleQuery(
    "q116_gram_index_store",
    (s, d) => Scratch.withTempDir("graft_gidx_") { outPath =>
      val out = outPath.toString
      graft.ext.IndexStore.writeGramIndex(
        Dedup.gramIndex(Tables.documents(s, d), "doc_id", "text", n = 2), out)
      Scratch.collectLocal(Dedup.jaccardSimilarityJoin(
        graft.ext.IndexStore.loadGramIndex(s, out), tauNum = 1, tauDen = 2))
    },
    Some(Dedup.gramJoinSql(Dedup.Jaccard, 1, 2)),
  )

  /** Q117 [X]: incremental SIMHASH probe — the 10%-of-ids "batch"
    * fingerprints probe the precomputed 64-bit signatures of the other
    * 90% at Hamming radius 3: the ingest-time Hamming member of the
    * incremental family (q112 jaccard / q113 containment / q114 cosine).
    * All-integer; the twin recomputes both sides' fingerprints
    * independently (the q111 HUGEINT assembly) and brute-forces the
    * cross-split XOR-popcounts.
    */
  val q117 = OracleQuery(
    "q117_incremental_simhash",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSig = Dedup.simHash64Signature(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
      Dedup.incrementalSimHash64Pairs(corpusSig,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", maxDist = 3)
    },
    Some(s"""WITH sig AS ($simhash64Sql)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
         FROM sig a JOIN sig b
           ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
  )

  /** Q118 [X]: the INGEST GATE capstone — the 10%-of-ids batch probes
    * ALL the frozen structures at once (corpus texts for exact-dup, the
    * GramIndex for exact Jaccard ≥ 1/2, the signature table for simhash
    * radius 3) and emits the per-signal flags + admit verdict a
    * production pipeline acts on. The twin recomputes each signal
    * independently (text-equality EXISTS, the q112 gram brute force, the
    * q111 HUGEINT fingerprints) — flags cast to BIGINT on both sides.
    */
  val q118 = OracleQuery(
    "q118_ingest_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val gate = Dedup.ingestGate(
        Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
        Dedup.simHash64Signature(corpus, "doc_id", "text"),
        corpus, batch, "doc_id", "text",
        tauNum = 1, tauDen = 2, maxDist = 3)
      gate.select(col("doc_id"),
        col("exact_dup").cast("long").as("exact_dup"),
        col("jac_dup").cast("long").as("jac_dup"),
        col("sh_dup").cast("long").as("sh_dup"),
        col("admit").cast("long").as("admit"))
    },
    Some(s"""WITH sig AS ($simhash64Sql),
         jd AS (SELECT DISTINCT doc_a AS doc_id FROM
                (${Dedup.gramJoinSql(Dedup.Jaccard, 1, 2, batch = true)})),
         sd AS (SELECT DISTINCT a.doc_id FROM sig a JOIN sig b
                ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         ex AS (SELECT DISTINCT b.doc_id FROM documents b JOIN documents c
                ON b.doc_id % 10 = 0 AND c.doc_id % 10 != 0 AND c.text = b.text)
         SELECT d.doc_id,
                CAST(d.doc_id IN (SELECT doc_id FROM ex) AS BIGINT) AS exact_dup,
                CAST(d.doc_id IN (SELECT doc_id FROM jd) AS BIGINT) AS jac_dup,
                CAST(d.doc_id IN (SELECT doc_id FROM sd) AS BIGINT) AS sh_dup,
                CAST(d.doc_id NOT IN (SELECT doc_id FROM ex)
                 AND d.doc_id NOT IN (SELECT doc_id FROM jd)
                 AND d.doc_id NOT IN (SELECT doc_id FROM sd) AS BIGINT) AS admit
         FROM documents d WHERE d.doc_id % 10 = 0"""),
  )

  /** Q119 [X]: incremental CLUSTER assignment — the 10%-of-ids batch
    * adopts existing near-dup clusters via LSH band collisions with the
    * 90% corpus (min cluster id among collided members, own id when
    * novel) — the O(batch) online counterpart of q41's full clustering.
    * The twin recomputes the corpus components with q41's recursive CTE
    * restricted to the corpus split, then mirrors the band-collision
    * adoption. Batch ids sit above the corpus range at every SF, so no
    * assignment can disturb a corpus label.
    */
  val q119 = OracleQuery(
    "q119_assign_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bands = Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3"))
      graft.ext.DedupCluster.assignToClusters(
        graft.ext.DedupCluster.dedupClusters(corpus, "doc_id", "text", bands),
        Dedup.corpusBandRows(corpus, "doc_id", "text", bands),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", bands)
    },
    Some(s"""WITH RECURSIVE sig AS (${ExtQueries.minhashSigSql}),
            cs AS (SELECT * FROM sig WHERE doc_id % 10 != 0),
            bs AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
            b0 AS (SELECT mh0, mh1, min(doc_id) AS root FROM cs GROUP BY mh0, mh1),
            b1 AS (SELECT mh2, mh3, min(doc_id) AS root FROM cs GROUP BY mh2, mh3),
            e AS (SELECT s.doc_id AS a, b0.root AS b FROM cs s
                    JOIN b0 USING (mh0, mh1) WHERE s.doc_id <> b0.root
                  UNION
                  SELECT s.doc_id AS a, b1.root AS b FROM cs s
                    JOIN b1 USING (mh2, mh3) WHERE s.doc_id <> b1.root),
            u AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
            lab AS (SELECT doc_id AS node, doc_id AS label FROM cs
                    UNION
                    SELECT u.a AS node, lab.label FROM lab JOIN u ON u.b = lab.node),
            clab AS (SELECT node AS doc_id, min(label) AS cluster_id
                     FROM lab GROUP BY node),
            m AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
                  FROM bs b JOIN cs c
                    ON (b.mh0 = c.mh0 AND b.mh1 = c.mh1)
                    OR (b.mh2 = c.mh2 AND b.mh3 = c.mh3)),
            ad AS (SELECT m.bid AS doc_id, min(clab.cluster_id) AS cl
                   FROM m JOIN clab ON clab.doc_id = m.cid GROUP BY 1)
            SELECT b.doc_id, coalesce(ad.cl, b.doc_id) AS cluster_id,
                   CAST(CASE WHEN coalesce(ad.cl, b.doc_id) = b.doc_id
                        THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
            FROM bs b LEFT JOIN ad ON ad.doc_id = b.doc_id"""),
  )

  /** Q135 [X]: the gate DASHBOARD — q118's per-document verdicts rolled
    * up per source: batch size, per-signal hit counts, admit rate. The
    * number a curation on-call actually watches ("which feed started
    * flooding us"). Twin = the q118 twin as a subquery (nested WITH) +
    * one source join and rollup, so the signal definitions exist exactly
    * once.
    */
  val q135 = OracleQuery(
    "q135_gate_dashboard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val gate = Dedup.ingestGate(
        Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
        Dedup.simHash64Signature(corpus, "doc_id", "text"),
        corpus, batch, "doc_id", "text",
        tauNum = 1, tauDen = 2, maxDist = 3)
      gate.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("exact_dup").cast("long")).as("n_exact"),
          sum(col("jac_dup").cast("long")).as("n_jac"),
          sum(col("sh_dup").cast("long")).as("n_sh"),
          sum(col("admit").cast("long")).as("n_admit"))
        .withColumn("admit_rate",
          round(col("n_admit").cast("double") / col("n_docs").cast("double"), 6))
    },
    Some(s"""WITH g AS (${q118.oracle.get})
             SELECT d2.source,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(exact_dup) AS BIGINT) AS n_exact,
                    CAST(sum(jac_dup) AS BIGINT) AS n_jac,
                    CAST(sum(sh_dup) AS BIGINT) AS n_sh,
                    CAST(sum(admit) AS BIGINT) AS n_admit,
                    round(CAST(sum(admit) AS DOUBLE) /
                          CAST(count(*) AS DOUBLE), 6) AS admit_rate
             FROM g JOIN documents d2 USING (doc_id)
             GROUP BY 1"""),
  )

  /** Q139 [X]: the FULL ingest capstone — q118's dedup gate joined with
    * q138's self-calibrated LM verdict into the one per-doc relation a
    * production ingest acts on: admit = not a duplicate (exact, Jaccard,
    * simhash) AND fluent enough for the corpus' own p10 bar. Docs too
    * short to score under the LM (< 2 tokens) fail the quality side —
    * `lm_ok` coalesces to 0. Twin = both twins as nested-WITH CTEs (the
    * q135 pattern), so every signal definition exists exactly once.
    */
  val q139 = OracleQuery(
    "q139_full_ingest_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // The dedup gate and the LM gate both run materializing jobs at
      // construction (eager checkpoints / the calibration count) over
      // disjoint inputs — overlap them (guide-§2.6, the ingestGate
      // pattern one level up).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val gateF = Future(Dedup.ingestGate(
        Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
        Dedup.simHash64Signature(corpus, "doc_id", "text"),
        corpus, batch, "doc_id", "text",
        tauNum = 1, tauDen = 2, maxDist = 3))
      val lmF = Future(graft.ext.TextAnalysis.calibratedLmGate(
        corpus, batch, "doc_id", "text"))
      val gate = Await.result(gateF, Duration.Inf)
      val lm = Await.result(lmF, Duration.Inf)
      gate
        .join(lm.select(col("doc_id"), col("admit").as("lm_ok")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          col("exact_dup").cast("long").as("exact_dup"),
          col("jac_dup").cast("long").as("jac_dup"),
          col("sh_dup").cast("long").as("sh_dup"),
          coalesce(col("lm_ok"), lit(0)).cast("long").as("lm_ok"),
          (col("admit") && coalesce(col("lm_ok"), lit(0)) === 1)
            .cast("long").as("admit"))
    },
    Some(s"""WITH g AS (${q118.oracle.get}),
                  l AS (${graft.queries.TrainQueries.q138.oracle.get})
             SELECT g.doc_id, g.exact_dup, g.jac_dup, g.sh_dup,
                    CAST(coalesce(l.admit, 0) AS BIGINT) AS lm_ok,
                    CAST(CASE WHEN g.admit = 1 AND coalesce(l.admit, 0) = 1
                         THEN 1 ELSE 0 END AS BIGINT) AS admit
             FROM g LEFT JOIN l ON l.doc_id = g.doc_id"""),
  )

  /** Q143 [X]: exact EDIT-DISTANCE self-join (PassJoin segment pigeonhole,
    * `Fuzzy.editDistanceJoin`) at k = 3 over 16-char document prefixes on
    * a 1-in-3 id slice — the STRING member of the exact similarity-join
    * family (q86 Jaccard / q103 cosine / q105 containment). The slice
    * bounds the twin's brute-force `levenshtein` cross join (the oracle is
    * O(n²); the operator is not). Spark and DuckDB both implement classic
    * unit-cost Levenshtein, so `dist` compares exactly.
    */
  val q143 = OracleQuery(
    "q143_edit_distance_join",
    (s, d) => Fuzzy.editDistanceJoin(
      Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("__p")),
      "doc_id", "__p", k = 3),
    Some("""WITH t AS (SELECT doc_id, substr(text, 1, 16) AS s
                       FROM documents WHERE doc_id % 3 = 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
            FROM t a JOIN t b ON b.doc_id > a.doc_id
            WHERE levenshtein(a.s, b.s) <= 3"""),
  )

  /** Q144 [X]: incremental EDIT-DISTANCE probe — the 1-in-10 "batch" of
    * the q143 slice against the frozen segment index of the other 90%:
    * every (batch, corpus) pair within k = 3, O(batch) work against a
    * built corpus (`Fuzzy.segmentIndex` + `incrementalEditDistanceJoin`),
    * completing the incremental family (q112 jaccard / q113 containment /
    * q114 cosine / q117 simhash). The twin brute-forces the cross-split
    * `levenshtein` join.
    */
  val q144 = OracleQuery(
    "q144_incremental_edit_distance",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("__p"))
      val corpus = docs.filter(col("doc_id") % 30 =!= 0)
      val batch = docs.filter(col("doc_id") % 30 === 0)
      Fuzzy.incrementalEditDistanceJoin(
        Fuzzy.segmentIndex(corpus, "doc_id", "__p", 3), corpus, batch,
        "doc_id", "__p", k = 3)
    },
    Some("""WITH t AS (SELECT doc_id, substr(text, 1, 16) AS s
                       FROM documents WHERE doc_id % 3 = 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
            FROM t a JOIN t b
              ON a.doc_id % 30 = 0 AND b.doc_id % 30 != 0
            WHERE levenshtein(a.s, b.s) <= 3"""),
  )

  /** Q145 [X]: the ingest gate grown a STRING signal — q118's three
    * frozen-structure probes plus edit-distance ≤ 2 on 16-char text
    * prefixes against the frozen `Fuzzy.segmentIndex`
    * (`Dedup.ingestGateWithEdit`): catches the title/prefix-level
    * near-dup that bigram Jaccard and simhash both miss (a shared short
    * head with a divergent tail). The twin nests q118's twin and
    * brute-forces the cross-split prefix `levenshtein`.
    */
  val q145 = OracleQuery(
    "q145_ingest_gate_with_edit",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("text"),
          substring(col("text"), 1, 16).as("__p"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val gate = Dedup.ingestGateWithEdit(
        Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
        Dedup.simHash64Signature(corpus, "doc_id", "text"),
        corpus,
        Fuzzy.segmentIndex(keyed(corpus), "doc_id", "__p", 2),
        keyed(corpus).select(col("doc_id"), col("__p")),
        keyed(batch),
        "doc_id", "text", "__p", k = 2,
        tauNum = 1, tauDen = 2, maxDist = 3)
      gate.select(col("doc_id"),
        col("exact_dup").cast("long").as("exact_dup"),
        col("jac_dup").cast("long").as("jac_dup"),
        col("sh_dup").cast("long").as("sh_dup"),
        col("ed_dup").cast("long").as("ed_dup"),
        col("admit").cast("long").as("admit"))
    },
    Some(s"""WITH g AS (${q118.oracle.get}),
         ed AS (SELECT DISTINCT a.doc_id FROM
                (SELECT doc_id, substr(text, 1, 16) AS s FROM documents
                 WHERE doc_id % 10 = 0) a
                JOIN (SELECT doc_id, substr(text, 1, 16) AS s FROM documents
                      WHERE doc_id % 10 != 0) b
                ON levenshtein(a.s, b.s) <= 2)
         SELECT g.doc_id, g.exact_dup, g.jac_dup, g.sh_dup,
                CAST(g.doc_id IN (SELECT doc_id FROM ed) AS BIGINT) AS ed_dup,
                CAST(CASE WHEN g.admit = 1 AND
                     g.doc_id NOT IN (SELECT doc_id FROM ed)
                     THEN 1 ELSE 0 END AS BIGINT) AS admit
         FROM g"""),
  )

  /** Q146 [X]: edit-distance DEDUP CLUSTERS — q143's pair graph closed
    * into components with min-id labels and keeper flags
    * (`Fuzzy.editDistanceClusters`, sharing `DedupCluster`'s contraction
    * + CC engine): fuzzy dedup carried to keeper selection, the string
    * twin of q41. The DuckDB twin brute-forces the edge set and closes it
    * with a recursive CTE, labeling identically by minimum reachable id.
    */
  val q146 = OracleQuery(
    "q146_edit_distance_clusters",
    (s, d) => Fuzzy.editDistanceClusters(
      Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("__p")),
      "doc_id", "__p", k = 3),
    Some("""WITH RECURSIVE t AS (SELECT doc_id, substr(text, 1, 16) AS s
                                 FROM documents WHERE doc_id % 3 = 0),
                 e0 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b
                        ON b.doc_id > a.doc_id
                        AND levenshtein(a.s, b.s) <= 3),
                 u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
                 lab AS (SELECT doc_id AS node, doc_id AS label FROM t
                         UNION
                         SELECT u.a AS node, lab.label FROM lab
                         JOIN u ON u.b = lab.node),
                 cl AS (SELECT node AS doc_id, min(label) AS cluster_id,
                               CAST(CASE WHEN min(label) = node
                                    THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
                        FROM lab GROUP BY node)
            SELECT doc_id, cluster_id, is_keeper FROM cl"""),
  )

  /** Q147 [X]: incremental edit-cluster assignment — the 1-in-10 batch of
    * the q143 slice adopts q146-style corpus cluster labels through the
    * frozen segment index (`Fuzzy.assignToEditClusters`): min-label
    * adoption, no bridge merging, novel docs found their own cluster —
    * the string sibling of q119. The twin closes the corpus edges with a
    * recursive CTE and brute-forces the cross-split adoption join.
    */
  val q147 = OracleQuery(
    "q147_assign_edit_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("__p"))
      val corpus = docs.filter(col("doc_id") % 30 =!= 0)
      val batch = docs.filter(col("doc_id") % 30 === 0)
      Fuzzy.assignToEditClusters(
        Fuzzy.editDistanceClusters(corpus, "doc_id", "__p", 3),
        Fuzzy.segmentIndex(corpus, "doc_id", "__p", 3),
        corpus, batch, "doc_id", "__p", k = 3)
    },
    Some("""WITH RECURSIVE t AS (SELECT doc_id, substr(text, 1, 16) AS s
                                 FROM documents WHERE doc_id % 3 = 0),
                 cs AS (SELECT * FROM t WHERE doc_id % 30 != 0),
                 bs AS (SELECT * FROM t WHERE doc_id % 30 = 0),
                 e0 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM cs a JOIN cs b
                        ON b.doc_id > a.doc_id
                        AND levenshtein(a.s, b.s) <= 3),
                 u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
                 lab AS (SELECT doc_id AS node, doc_id AS label FROM cs
                         UNION
                         SELECT u.a AS node, lab.label FROM lab
                         JOIN u ON u.b = lab.node),
                 clab AS (SELECT node AS doc_id, min(label) AS cluster_id
                          FROM lab GROUP BY node),
                 m AS (SELECT b.doc_id AS bid, c.doc_id AS cid
                       FROM bs b JOIN cs c ON levenshtein(b.s, c.s) <= 3),
                 ad AS (SELECT m.bid AS doc_id, min(clab.cluster_id) AS cl
                        FROM m JOIN clab ON clab.doc_id = m.cid GROUP BY 1)
            SELECT b.doc_id, coalesce(ad.cl, b.doc_id) AS cluster_id,
                   CAST(CASE WHEN coalesce(ad.cl, b.doc_id) = b.doc_id
                        THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
            FROM bs b LEFT JOIN ad ON ad.doc_id = b.doc_id"""),
  )

  /** DuckDB twin of `Similarity.srpSignature`: the seeded ±1 hyperplane
    * matrix rebuilt from the portable md5-digit hash (4096 hash calls for
    * the 64×64 matrix, once, in a CTE), per-term 2^-40 truncation so every
    * projection sum is exact integer math in any order, fingerprint
    * assembled in HUGEINT against a 64-row power-of-two literal table and
    * wrapped to the signed BIGINT two's complement Spark's long carries
    * (the q111 discipline — xor/bit_count are then bit-identical).
    * DuckDB CAST(double AS BIGINT) rounds, so the truncation is an
    * explicit `trunc` (the q-family cast trap).
    */
  private[queries] val srpSql: String = {
    val hashIJ = TextHash.tokenHashSql(
      "CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")
    val bitRows = (0 until 64)
      .map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH m AS (SELECT r1.i, r2.j,
                 CASE WHEN $hashIJ % 2 = 0 THEN 1 ELSE -1 END AS s
               FROM range(64) r1(i), range(64) r2(j)),
            cells AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
                 CAST(trunc(CAST(x AS DOUBLE) * 1099511627776.0) AS BIGINT) AS t
               FROM (SELECT vec_id, unnest(embedding) AS x,
                            generate_subscripts(embedding, 1) AS i
                     FROM embeddings)),
            sums AS (SELECT vec_id, j,
                 SUM(CASE WHEN s = 1 THEN t ELSE -t END) AS sj
               FROM cells JOIN m USING (i) GROUP BY 1, 2),
            bits(j, p) AS (VALUES $bitRows),
            uu AS (SELECT vec_id,
                 SUM(CASE WHEN sj >= 0 THEN p ELSE 0::HUGEINT END) AS u
               FROM sums JOIN bits USING (j) GROUP BY 1)
            SELECT vec_id, ${StubCodecSql.signed64("u")} AS sh
            FROM uu"""
  }

  /** Q148 [X]: SRP fingerprints of the WHOLE embeddings table — the
    * determinism anchor for the embedding-LSH family: the twin rebuilds
    * the hyperplane matrix, the exact-integer projection sums, and the
    * 64-bit assembly independently, so a hash match certifies every bit
    * of every fingerprint (the sign rule has no float boundary by
    * construction — sums are integers).
    */
  val q148 = OracleQuery(
    "q148_srp_signature",
    (s, d) => Similarity.srpSignature(
      Tables.embeddings(s, d), "embedding", "vec_id"),
    Some(srpSql),
  )

  /** Q149 [X]: embedding near-dup pairs via SRP band pigeonholing — all
    * pairs within Hamming distance 14 of the 64-bit fingerprint (≈ 40°;
    * this corpus has no planted duplicate vectors, so the oracle radius
    * sits where the angular tail begins — production dedup runs radius
    * ≤ 3 and the spec pins that regime with planted near-dups). The twin
    * brute-forces the n²/2 XOR-popcounts over the independently
    * recomputed fingerprints; all-integer, no float parity surface.
    */
  val q149 = OracleQuery(
    "q149_srp_near_dup",
    (s, d) => Similarity.srpNearDupPairs(
      Tables.embeddings(s, d), "embedding", "vec_id", maxDist = 14),
    Some(s"""WITH sig AS ($srpSql)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
         FROM sig a JOIN sig b ON b.vec_id > a.vec_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 14"""),
  )

  /** Q150 [X]: incremental SRP probe — the 10%-of-ids batch of vectors
    * against the frozen corpus signature table at radius 16: the
    * EMBEDDING member of the incremental ingest family (q112 jaccard /
    * q113 containment / q114 cosine / q117 simhash / q144 edit distance).
    * The twin brute-forces the cross-split XOR-popcounts.
    */
  val q150 = OracleQuery(
    "q150_incremental_srp",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.incrementalSrpPairs(
        Similarity.srpSignature(
          emb.filter(col("vec_id") % 10 =!= 0), "embedding", "vec_id"),
        emb.filter(col("vec_id") % 10 === 0), "embedding", "vec_id",
        maxDist = 16)
    },
    Some(s"""WITH sig AS ($srpSql)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist
         FROM sig a JOIN sig b
           ON a.vec_id % 10 = 0 AND b.vec_id % 10 != 0
         WHERE bit_count(xor(a.sh, b.sh)) <= 16"""),
  )

  /** Q156 [X]: embedding near-dup CLUSTERS — q149's SRP pair graph closed
    * into components with min-id labels and keeper flags
    * (`Similarity.srpClusters`, sharing `DedupCluster`'s contraction + CC
    * engine): semantic dedup carried to keeper selection, the embedding
    * twin of q41 (LSH) and q146 (edit distance). The DuckDB twin
    * brute-forces the fingerprint edge set and closes it with a recursive
    * CTE, labeling identically by minimum reachable id.
    */
  val q156 = OracleQuery(
    "q156_srp_clusters",
    (s, d) => Similarity.srpClusters(
      Tables.embeddings(s, d), "embedding", "vec_id", maxDist = 14),
    Some(s"""WITH RECURSIVE sig AS ($srpSql),
                 e0 AS (SELECT a.vec_id AS a, b.vec_id AS b
                        FROM sig a JOIN sig b ON b.vec_id > a.vec_id
                        AND bit_count(xor(a.sh, b.sh)) <= 14),
                 u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
                 lab AS (SELECT vec_id AS node, vec_id AS label FROM sig
                         UNION
                         SELECT u.a AS node, lab.label FROM lab
                         JOIN u ON u.b = lab.node),
                 cl AS (SELECT node AS vec_id, min(label) AS cluster_id,
                               CAST(CASE WHEN min(label) = node
                                    THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
                        FROM lab GROUP BY node)
            SELECT vec_id, cluster_id, is_keeper FROM cl"""),
  )

  /** Q157 [X]: incremental SRP-cluster assignment — the 10%-of-ids batch
    * of vectors adopts q156-style corpus cluster labels through the
    * frozen corpus signature table (`Similarity.assignToSrpClusters`):
    * min-label adoption, no bridge merging, novel vectors found their own
    * cluster — the embedding sibling of q119 (LSH) and q147 (edit
    * distance). The twin closes the corpus edges with a recursive CTE and
    * brute-forces the cross-split adoption join.
    */
  val q157 = OracleQuery(
    "q157_assign_srp_clusters",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      // One corpus signature pass feeds BOTH the cluster-label build and
      // the frozen probe table (round 17 — it was computed twice), and
      // the CC label loop overlaps the batch probe on threads (§2.6, the
      // ingestGate pattern): the two job chains are independent until the
      // adoption join.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val cSig = Similarity.srpSignature(corpus, "embedding", "vec_id")
        .localCheckpoint()
      val labelsF = Future(Similarity.srpClustersFromSig(
        corpus, "vec_id", cSig, maxDist = 16))
      val pairsF = Future(Similarity.incrementalSrpPairs(
        cSig, batch, "embedding", "vec_id", maxDist = 16).localCheckpoint())
      val labels = Await.result(labelsF, Duration.Inf)
      val pairs = Await.result(pairsF, Duration.Inf)
      graft.ext.DedupCluster.adopt(labels, pairs, batch, "vec_id")
    },
    Some(s"""WITH RECURSIVE sig AS ($srpSql),
                 cs AS (SELECT * FROM sig WHERE vec_id % 10 != 0),
                 bs AS (SELECT * FROM sig WHERE vec_id % 10 = 0),
                 e0 AS (SELECT a.vec_id AS a, b.vec_id AS b
                        FROM cs a JOIN cs b ON b.vec_id > a.vec_id
                        AND bit_count(xor(a.sh, b.sh)) <= 16),
                 u AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
                 lab AS (SELECT vec_id AS node, vec_id AS label FROM cs
                         UNION
                         SELECT u.a AS node, lab.label FROM lab
                         JOIN u ON u.b = lab.node),
                 clab AS (SELECT node AS vec_id, min(label) AS cluster_id
                          FROM lab GROUP BY node),
                 m AS (SELECT b.vec_id AS bid, c.vec_id AS cid
                       FROM bs b JOIN cs c
                       ON bit_count(xor(b.sh, c.sh)) <= 16),
                 ad AS (SELECT m.bid AS vec_id, min(clab.cluster_id) AS cl
                        FROM m JOIN clab ON clab.vec_id = m.cid GROUP BY 1)
            SELECT b.vec_id, coalesce(ad.cl, b.vec_id) AS cluster_id,
                   CAST(CASE WHEN coalesce(ad.cl, b.vec_id) = b.vec_id
                        THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
            FROM bs b LEFT JOIN ad ON ad.vec_id = b.vec_id"""),
  )

  /** Q170 [X]: sorted-neighborhood record linkage
    * (`Fuzzy.sortedNeighborhoodJoin`) — rank by a 16-char key prefix,
    * verify `levenshtein ≤ 2` inside an 8-row sliding neighborhood: the
    * classic cheap blocker beside q143's exact PassJoin (the missed-pair
    * tradeoff is the CONTRACT — the twin builds the identical
    * neighborhood, so the oracle pins the blocker's exact semantics,
    * two-phase rank included). The twin's one global row_number is the
    * semantic spec; the Spark side computes the same rank in two phases.
    */
  val q170 = OracleQuery(
    "q170_sorted_neighborhood",
    (s, d) => graft.ext.Fuzzy.sortedNeighborhoodJoin(
      Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 16).as("k16")),
      "doc_id", "k16", window = 8, k = 2),
    Some("""WITH b AS (SELECT doc_id, substring(text, 1, 16) AS k
                   FROM documents),
              r AS (SELECT doc_id, k,
                     row_number() OVER (ORDER BY k, doc_id) AS rnk FROM b),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.k AS ka, b.k AS kb
                   FROM r a JOIN r b
                     ON b.rnk > a.rnk AND b.rnk <= a.rnk + 7)
         SELECT id_a, id_b, CAST(levenshtein(ka, kb) AS BIGINT) AS dist
         FROM c WHERE levenshtein(ka, kb) <= 2"""),
  )

  /** q171's twin, shared with q174 (the incremental sketch finalizes to
    * the bit-identical full-corpus matrix, so the SAME full recompute is
    * its oracle — equality with it IS the mergeability certificate).
    */
  private val covarianceSql: String = """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
              x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
                     unnest(v) AS x FROM e),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
              s AS (SELECT i, sum(CAST(trunc(x * 1099511627776.0) AS BIGINT))
                     AS sx FROM x GROUP BY 1),
              p AS (SELECT a.i AS i, b.i AS j,
                     sum(CAST(trunc(a.x * b.x * 1099511627776.0) AS BIGINT))
                       AS sxy
                   FROM x a JOIN x b
                     ON b.vec_id = a.vec_id AND b.i >= a.i
                   GROUP BY 1, 2)
         SELECT p.i, p.j,
                round(CAST(p.sxy AS DOUBLE) / 1099511627776.0 / n.n -
                      (CAST(sa.sx AS DOUBLE) / 1099511627776.0 / n.n) *
                      (CAST(sb.sx AS DOUBLE) / 1099511627776.0 / n.n), 6)
                  + 0.0 AS cov
         FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j, n"""

  /** Q171 [X]: embedding covariance matrix
    * (`Similarity.covarianceMatrix`) — the d(d+1)/2 upper-triangle
    * whitening/PCA-prep statistic, every sum integer-exact via the q104
    * 2^-40 truncation (float products are exact doubles; power-of-two
    * scaling is exact; truncation + integer sums are order-free), doubles
    * only in the final fixed-shape expression on both engines. The twin
    * mirrors Spark's truncating double→long cast as
    * `CAST(trunc(·) AS BIGINT)`.
    */
  val q171 = OracleQuery(
    "q171_embedding_covariance",
    (s, d) => Similarity.covarianceMatrix(
      Tables.embeddings(s, d), "embedding", "vec_id"),
    Some(covarianceSql),
  )

  /** Q174 [X]: INCREMENTAL covariance — the 10%-of-ids batch's sketch
    * merged into the frozen 90% corpus sketch by plain per-cell addition
    * (`Similarity.covarianceSums` / `mergeCovarianceSums` /
    * `finalizeCovariance`): every entry is an order-free integer sum, so
    * the merged sketch finalizes to the BIT-IDENTICAL matrix a full
    * recompute yields — and the full-corpus q171 twin is therefore its
    * oracle, making hash-equality itself the mergeability certificate.
    * The covariance/PCA member of the incremental-ingest family: the
    * corpus pays one pass ever, each batch pays O(batch).
    */
  val q174 = OracleQuery(
    "q174_incremental_covariance",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = Similarity.covarianceSums(
        emb.filter(col("vec_id") % 10 =!= 0), "embedding", "vec_id")
      val batch = Similarity.covarianceSums(
        emb.filter(col("vec_id") % 10 === 0), "embedding", "vec_id")
      Similarity.finalizeCovariance(
        Similarity.mergeCovarianceSums(corpus, batch))
    },
    Some(covarianceSql),
  )

  /** Q172 [X]: PCA projection — top-4 principal components from the
    * distributed q171 covariance, eigensolved on the driver (power
    * iteration + deflation over the kilobyte d×d matrix — the classic
    * split: data-sized passes distributed, d×d algebra local), then the
    * corpus projected through one broadcast literal matrix and the
    * codegen'd sequential dot. CERTIFICATE oracle (the q74/q108
    * discipline): the run records the component vectors; the twin
    * recomputes every projection from the raw embeddings and the
    * recorded components with `list_dot_product` (the same left-to-right
    * fold — the q20 parity base; Double.toString round-trips exactly
    * through DuckDB's literal parser). Component OPTIMALITY (Av ≈ λv,
    * orthogonality, variance ordering) is pinned by the spec.
    */
  private object PcaCert {
    @volatile var w: Option[Array[Array[Double]]] = None
  }
  val q172 = OracleQuery(
    "q172_pca_project",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val comps = Similarity.pcaComponents(emb, "embedding", "vec_id",
        kComp = 4, iters = 100)
      PcaCert.w = Some(comps)
      Similarity.pcaProject(emb, "embedding", "vec_id", comps)
    },
    None,
    dynOracle = () => PcaCert.w.map { w =>
      w.zipWithIndex.map { case (vec, c) =>
        s"""SELECT vec_id, $c AS c,
                round(list_dot_product(CAST(embedding AS DOUBLE[]),
                  [${vec.mkString(", ")}]), 6) AS proj
            FROM embeddings"""
      }.mkString("\nUNION ALL\n")
    },
  )

  val all: Seq[OracleQuery] = Seq(q103, q104, q105, q106, q108, q109, q110,
    q111, q112, q113, q114, q115, q116, q117, q118, q119, q135, q139,
    q143, q144, q145, q146, q147, q148, q149, q150, q156, q157,
    q170, q171, q172, q174)
}
