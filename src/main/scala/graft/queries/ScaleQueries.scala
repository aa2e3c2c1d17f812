package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Packing, Sampling, SemDedup, Similarity, TextAnalysis}
import graft.ext.TextHash.tokenHashSql
import graft.ops.Drift

/** Round-4 additions: the corpus-lifecycle operators a 100 TB training
  * pipeline runs BETWEEN the per-document ops — mixture rebalancing
  * (data recipes), incremental batch-vs-corpus dedup (ingest-time LSH
  * probe), rank-ordered context assembly (RAG packing), distribution-drift
  * monitoring (PSI), and cluster-local semantic dedup (SemDeDup). Each has
  * a DuckDB twin.
  */
object ScaleQueries {

  /** Q75 [X]: mixture rebalancing toward a target data recipe — sources
    * src0-src3 get 15% of the mix each, the rest split the remaining 40%
    * (20 uniform sources → the boosted four pass whole, the rest keep
    * half). Per-stratum rates from one broadcast count aggregate; the
    * keep decision is the portable id hash, so the sample is reproducible
    * across engines, runs, and partitionings. The corpus never shuffles.
    */
  val q75 = {
    val boosted = Seq("src0", "src1", "src2", "src3")
    val shareCase = boosted.map(s => s"WHEN d.source = '$s' THEN 0.15")
      .mkString("CASE ", " ", " ELSE 0.025 END")
    OracleQuery(
      "q75_mixture_rebalance",
      (s, d) => Sampling.mixtureKeep(
        Tables.documents(s, d), "doc_id", "source",
        boosted.map(_ -> 0.15).toMap, defaultShare = 0.025)
        .select(col("doc_id"), col("source"),
          round(col("keep_rate"), 6).as("keep_rate")),
      Some(s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                     FROM documents GROUP BY source),
              t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM c),
              r AS (SELECT d.doc_id, d.source,
                           least(1.0, $shareCase * t.n_tot / c.n_s) AS rate,
                           ${tokenHashSql("CAST(d.doc_id AS VARCHAR)")} / 100000000.0 AS u
                    FROM documents d JOIN c USING (source), t)
              SELECT doc_id, source, round(rate, 6) AS keep_rate
              FROM r WHERE u < rate"""),
    )
  }

  /** Q76 [X]: incremental dedup — a 30% "new batch" (by portable id hash)
    * probes the 70% "existing corpus" for minhash LSH band collisions.
    * Semi-joins per band: a batch doc in a crowded corpus bucket emits ONE
    * row, never the bucket's fan-out — the ingest-time shape that makes
    * dedup-on-arrival O(batch), not O(corpus).
    */
  val q76 = OracleQuery(
    "q76_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val bucket = Sampling.hashBucket(col("doc_id"))
      Dedup.incrementalDupIds(
        docs.filter(bucket < 70), docs.filter(bucket >= 70),
        "doc_id", "text", Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
    },
    Some(s"""WITH sig AS (${ExtQueries.minhashSigSql}),
            c AS (SELECT * FROM sig WHERE ${Sampling.hashBucketSql("doc_id")} < 70),
            b AS (SELECT * FROM sig WHERE ${Sampling.hashBucketSql("doc_id")} >= 70),
            m AS (SELECT DISTINCT b.doc_id, 0 AS band_id
                  FROM b JOIN c ON b.mh0 = c.mh0 AND b.mh1 = c.mh1
                  UNION ALL
                  SELECT DISTINCT b.doc_id, 1 AS band_id
                  FROM b JOIN c ON b.mh2 = c.mh2 AND b.mh3 = c.mh3)
            SELECT doc_id, CAST(min(band_id) AS BIGINT) AS first_band
            FROM m GROUP BY doc_id"""),
  )

  /** Q77 [X]: RAG context assembly — per language, the 3 highest-quality
    * documents (distinct-token ratio, doc id tiebreak), their lead
    * snippets concatenated in rank order. row_number ≤ k plans a partial
    * WindowGroupLimit before the exchange; the concat touches k bounded
    * rows per group, never the corpus.
    */
  val q77 = OracleQuery(
    "q77_context_pack",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("__score", TextAnalysis.uniqueTokenRatio(col("text")))
      Packing.topKConcat(docs, "lang",
        Seq(desc("__score"), col("doc_id")),
        array_join(slice(split(col("text"), " "), 1, 12), " "),
        k = 3, sep = " | ")
    },
    Some("""WITH t AS (SELECT lang, doc_id,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS score,
                   array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS snip
                   FROM documents),
            r AS (SELECT *, row_number() OVER
                        (PARTITION BY lang ORDER BY score DESC, doc_id) AS rnk
                  FROM t)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
                   string_agg(snip, ' | ' ORDER BY rnk) AS packed
            FROM r WHERE rnk <= 3 GROUP BY lang"""),
  )

  private val psiThresholds: Seq[Long] =
    Seq(100L, 150L, 200L, 250L, 300L, 350L, 400L, 450L)

  /** Q78 [X]: distribution drift (PSI) between two deterministic halves of
    * the corpus over document length. The bucket is an integer CASE
    * ladder (no global sort, no quantile state, no float boundaries); PSI
    * terms are emitted per bucket with the float math done once per
    * bucket row, so no cross-row float sum exists to drift across
    * engines.
    */
  val q78 = OracleQuery(
    "q78_psi_drift",
    (s, d) => Drift.psiTerms(
      Tables.documents(s, d),
      isA = Sampling.hashBucket(col("doc_id")) < 50,
      bucket = Drift.bucketOf(col("n_chars"), psiThresholds)),
    Some(s"""WITH d AS (SELECT ${Drift.bucketSql("n_chars", psiThresholds)} AS bucket,
                   (${Sampling.hashBucketSql("doc_id")} < 50) AS a
                   FROM documents),
            c AS (SELECT bucket,
                         CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                         CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
                  FROM d GROUP BY bucket),
            t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
                         CAST(sum(n_b) AS BIGINT) AS t_b FROM c)
            SELECT bucket, n_a, n_b,
                   round((CAST(n_a AS DOUBLE) / t_a - CAST(n_b AS DOUBLE) / t_b) *
                         ln((CAST(n_a AS DOUBLE) / t_a) / (CAST(n_b AS DOUBLE) / t_b)), 6)
                     AS psi_term
            FROM c, t WHERE n_a > 0 AND n_b > 0"""),
  )

  /** Q79 [X]: SemDeDup — embedding-space dedup restricted to nearest-
    * centroid clusters (deterministic seed centroids vec_id < 8 so the
    * oracle can restate it; production uses IvfIndex.build's k-means).
    * The pair join is quadratic per CLUSTER, not per corpus, and shuffles
    * on the cluster id.
    */
  val q79 = OracleQuery(
    "q79_semdedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          Similarity.asDouble(col("embedding")).as("cv"))
      val assigned = SemDedup.assign(
        emb.filter(col("vec_id") >= 8), "embedding", "vec_id", centroids)
      SemDedup.dropList(assigned, threshold = 0.2)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
            a AS (SELECT vec_id, v, cid,
                         round(list_dot_product(v, cv) /
                               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS cs
                  FROM e, c WHERE vec_id >= 8),
            asg AS (SELECT vec_id, v, cid FROM
                       (SELECT *, row_number() OVER
                              (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                        FROM a) z
                     WHERE rn = 1),
            p AS (SELECT y.vec_id AS dropped, x.vec_id AS a_id,
                         round(list_dot_product(x.v, y.v) /
                               (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos_r
                  FROM asg x JOIN asg y
                    ON x.cid = y.cid AND x.vec_id < y.vec_id)
            SELECT dropped, min(a_id) AS keeper, CAST(count(*) AS BIGINT) AS n_sim
            FROM p WHERE cos_r >= 0.2 GROUP BY dropped"""),
  )

  /** Q80 [X]: CCNet-style boilerplate-line removal. The synthetic docs
    * carry no newlines, so "lines" are fixed 4-token segments (the q67
    * chunking shape, stride = width); any segment appearing in ≥ 2
    * DISTINCT documents is boilerplate and dropped, and each document's
    * survivors reassemble in order (q04 ordered-collect — positions sort
    * inside the per-doc array, no global sort). Doc frequency counts the
    * deduplicated (line, doc) pairs, so the hottest boilerplate line is
    * ONE build-side row in the join back to the occurrence stream.
    */
  val q80 = OracleQuery(
    "q80_line_dedup",
    (s, d) => {
      val a = Dedup.tokens(col("text"))
      val segs = Tables.documents(s, d)
        .select(col("doc_id"), a.as("a"),
          ceil(size(a) / lit(4.0)).cast("long").as("nc"))
        .select(col("doc_id"), col("a"),
          posexplode(sequence(lit(0L), col("nc") - 1)).as(Seq("p", "cid")))
        .select(col("doc_id"), col("cid"),
          array_join(slice(col("a"), (col("cid") * 4 + 1).cast("int"), lit(4)), " ")
            .as("line"))
      TextAnalysis.dropFrequentLines(segs, "doc_id", "cid", "line", minDf = 2)
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
            seg AS (SELECT doc_id, cid,
                           array_to_string(list_slice(a, cid*4 + 1, cid*4 + 4), ' ') AS line
                    FROM (SELECT doc_id, a,
                                 unnest(range(0, CAST(ceil(len(a) / 4.0) AS BIGINT))) AS cid
                          FROM tok)),
            df AS (SELECT line, count(DISTINCT doc_id) AS d FROM seg GROUP BY line)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY cid)
                            FILTER (WHERE d < 2), '') AS clean_text,
                   CAST(count(*) FILTER (WHERE d < 2) AS BIGINT) AS n_kept,
                   CAST(count(*) FILTER (WHERE d >= 2) AS BIGINT) AS n_dropped
            FROM seg JOIN df USING (line)
            GROUP BY doc_id"""),
  )

  /** Q81 [X]: exact heavy hitters over the token stream via the
    * Misra-Gries sketch + exact recount (functions/FrequentItems). The
    * sketch pass shuffles ≤ ⌈1/support⌉-entry maps instead of the full
    * key space; its superset guarantee plus the exact second pass keeps
    * the output deterministic (and DuckDB-twinnable) even though the
    * sketch itself is order-dependent.
    */
  val q81 = OracleQuery(
    "q81_heavy_hitters",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("w"))
      graft.functions.FrequentItems.heavyHitters(tok, "w", support = 0.032)
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
            c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w)
            SELECT w, cnt,
                   round(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
            FROM c, n WHERE cnt > n_total * 0.032"""),
  )

  /** Q82 [layout]: Morton (Z-order) clustering values over the two join
    * keys of the fact table — the write-time layout that makes parquet
    * min/max stats prune on BOTH keys (ops/StorageLayout.zorderWrite; the
    * quadkey ordering of the reference's tile pyramid generalized). The
    * oracle twin runs the IDENTICAL shift/or/and chain, emitted by the
    * same builder, so there is exactly one definition of the bit math.
    */
  val q82 = OracleQuery(
    "q82_zorder",
    (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.ops.StorageLayout.zValue(col("l_partkey"), col("l_suppkey"))
          .as("zv")),
    Some(s"""SELECT l_orderkey, l_linenumber,
                    ${graft.ops.StorageLayout.zValueSql("l_partkey", "l_suppkey")} AS zv
             FROM lineitem"""),
  )

  /** Q83 [X dedup]: exact-substring dedup spans (ExactSubstr, Lee et al.):
    * token positions covered by any 8-gram occurring ≥ 2 times in the
    * corpus, merged to maximal per-document spans. The global gram count
    * is a window over the gram key (no join-back); span merging is
    * gaps-and-islands over only the duplicate hits.
    */
  val q83 = OracleQuery(
    "q83_substr_dedup",
    (s, d) => Dedup.repeatedSubstrSpans(
      Tables.documents(s, d), "doc_id", "text", l = 8, minCount = 2L),
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            occ AS (SELECT doc_id, i AS pos, i + 7 AS fin,
                           array_to_string(t[i:i+7], ' ') AS gram
                    FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)),
            hit AS (SELECT doc_id, pos, fin FROM
                      (SELECT *, count(*) OVER (PARTITION BY gram) AS g_cnt FROM occ)
                    WHERE g_cnt >= 2),
            isl AS (SELECT doc_id, pos, fin,
                           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                    FROM (SELECT *, CASE WHEN prev_end IS NULL OR pos > prev_end
                                         THEN 1 ELSE 0 END AS brk
                          FROM (SELECT *, max(fin) OVER
                                       (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                                FROM hit))),
            sp AS (SELECT doc_id, island, min(pos) AS st, max(fin) AS fin
                   FROM isl GROUP BY doc_id, island)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(fin - st + 1) AS BIGINT) AS n_removed,
                   string_agg(CAST(st AS VARCHAR) || '-' || CAST(fin AS VARCHAR),
                              ',' ORDER BY st) AS spans
            FROM sp GROUP BY doc_id"""),
  )

  /** Q84 [as-of]: forward as-of join — each event matched to the NEXT
    * purchase (smallest purchase id ≥ its own) per user: q36's mirror,
    * same one-exchange union-window plan on the time axis reversed.
    * DuckDB's ASOF accepts the flipped inequality natively.
    */
  val q84 = OracleQuery(
    "q84_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          col("event_id").as("p_id"))
      graft.ops.AsOfJoin.asOf(ev, purchases, "user_id", "event_id",
        "p_event_id", direction = "forward")
        .select(col("event_id"), col("user_id"), col("r_p_id").as("next_purchase"))
    },
    Some("""SELECT e.event_id, e.user_id, p.event_id AS next_purchase
            FROM events e
            ASOF LEFT JOIN (SELECT user_id, event_id FROM events
                            WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id AND e.event_id <= p.event_id"""),
  )

  /** Q85 [as-of]: nearest as-of join — the closer of the previous and next
    * purchase, exact tie keeping backward (pandas merge_asof convention).
    * One exchange, two window chains; the twin restates it as two DuckDB
    * ASOF joins and a CASE on the distances.
    */
  val q85 = OracleQuery(
    "q85_asof_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event_id"),
          col("event_id").as("p_id"))
      graft.ops.AsOfJoin.asOf(ev, purchases, "user_id", "event_id",
        "p_event_id", direction = "nearest")
        .select(col("event_id"), col("user_id"),
          col("r_p_id").as("near_purchase"))
    },
    Some("""WITH p AS (SELECT user_id, event_id AS pid FROM events
                       WHERE event_type = 'purchase'),
            b AS (SELECT e.event_id, e.user_id, p.pid AS bid
                  FROM events e ASOF LEFT JOIN p
                    ON e.user_id = p.user_id AND e.event_id >= p.pid),
            f AS (SELECT e.event_id, p.pid AS fid
                  FROM events e ASOF LEFT JOIN p
                    ON e.user_id = p.user_id AND e.event_id <= p.pid)
            SELECT b.event_id, b.user_id,
                   CASE WHEN bid IS NULL THEN fid
                        WHEN fid IS NULL THEN bid
                        WHEN (fid - b.event_id) < (b.event_id - bid) THEN fid
                        ELSE bid END AS near_purchase
            FROM b JOIN f USING (event_id)"""),
  )

  /** Q86 [X dedup]: exact all-pairs Jaccard join (prefix filtering) over
    * bigram sets at τ = 1/2 — the no-false-negative complement of the LSH
    * pipeline. The threshold compares in integer arithmetic on both
    * engines; the twin brute-forces via the token-level self-join.
    */
  val q86 = OracleQuery(
    "q86_jaccard_join",
    (s, d) => Dedup.jaccardSimilarityJoin(
      Tables.documents(s, d), "doc_id", "text", n = 2, tauNum = 1, tauDen = 2),
    Some(Dedup.gramJoinSql(Dedup.Jaccard, 1, 2)),
  )

  /** Q133 [layout]: rendezvous sharding under a reshard — each document's
    * shard at 8 and at 9 shards plus the moved flag; the minimal-movement
    * property (only ~1/9 of rows move, all of them TO the new shard) is
    * part of the hash-checked output, not just a spec claim.
    */
  val q133 = OracleQuery(
    "q133_rendezvous_shard",
    (s, d) =>
      graft.Tables.documents(s, d).select(
        col("doc_id"),
        graft.ops.StorageLayout.rendezvousShard(col("doc_id"), 8).as("s8"),
        graft.ops.StorageLayout.rendezvousShard(col("doc_id"), 9).as("s9"))
        .withColumn("moved", (col("s8") =!= col("s9")).cast("int")),
    Some(s"""SELECT doc_id,
                    ${graft.ops.StorageLayout.rendezvousShardSql("doc_id", 8)} AS s8,
                    ${graft.ops.StorageLayout.rendezvousShardSql("doc_id", 9)} AS s9,
                    CAST(${graft.ops.StorageLayout.rendezvousShardSql("doc_id", 8)} !=
                         ${graft.ops.StorageLayout.rendezvousShardSql("doc_id", 9)} AS INTEGER) AS moved
             FROM documents"""),
  )

  /** Q136 [X]: INCREMENTAL SemDeDup — the 10%-of-ids "batch" scored in
    * embedding space against the frozen 90% corpus (q79's centroids and
    * assignment, persisted): a batch vector is dropped when any
    * same-cluster corpus member reaches cosine ≥ τ, arrival order wins
    * (the corpus is always the keeper side). O(batch · n/k) — the
    * semantic member of the q112/q113/q114/q117/q124 incremental family.
    */
  val q136 = OracleQuery(
    "q136_incremental_semdedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"),
          Similarity.asDouble(col("embedding")).as("cv"))
      val corpus = SemDedup.assign(
        emb.filter(col("vec_id") >= 8 && col("vec_id") % 10 =!= 0),
        "embedding", "vec_id", centroids)
      SemDedup.incrementalDropList(corpus,
        emb.filter(col("vec_id") >= 8 && col("vec_id") % 10 === 0),
        "embedding", "vec_id", centroids, threshold = 0.2)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
            a AS (SELECT vec_id, v, cid,
                         round(list_dot_product(v, cv) /
                               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS cs
                  FROM e, c WHERE vec_id >= 8),
            asg AS (SELECT vec_id, v, cid FROM
                       (SELECT *, row_number() OVER
                              (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                        FROM a) z
                     WHERE rn = 1),
            co AS (SELECT * FROM asg WHERE vec_id % 10 != 0),
            ba AS (SELECT * FROM asg WHERE vec_id % 10 = 0),
            p AS (SELECT x.vec_id AS dropped, y.vec_id AS c_id,
                         round(list_dot_product(x.v, y.v) /
                               (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos_r
                  FROM ba x JOIN co y ON x.cid = y.cid)
            SELECT dropped, min(c_id) AS keeper, CAST(count(*) AS BIGINT) AS n_sim
            FROM p WHERE cos_r >= 0.2 GROUP BY dropped"""),
  )

  /** Q175 [X]: LSH RECALL AUDIT — the blocking pipeline measured against
    * its own ground truth: exact all-pairs Jaccard at τ = 3/5 (q86's
    * PPJoin machinery, no false negatives) left-joined with the q19b
    * band-candidate set, recall per similarity decile. The "know your
    * blocker" number every dedup deployment needs before trusting band
    * parameters — and the S-curve made empirical: recall should rise
    * with similarity, and the oracle pins the whole table. Buckets come
    * from floor(jac·10) on the SAME rounded-6 doubles both engines
    * already hash-match (q86), so bucketing introduces no new parity
    * surface.
    */
  val q175 = OracleQuery(
    "q175_lsh_recall_audit",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val exact = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
        n = 2, tauNum = 3, tauDen = 5)
      val sig = Dedup.minHashSignature(docs, "doc_id", "text")
      val cand = Dedup.lshCandidatePairs(sig, "doc_id",
        Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
        .select(col("doc_a"), col("doc_b")).distinct()
        .withColumn("hit", lit(1L))
      exact.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy(floor(col("jac") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .withColumn("recall",
          round(col("n_caught").cast("double") / col("n_true"), 6))
    },
    Some(s"""WITH ex AS (${Dedup.gramJoinSql(Dedup.Jaccard, 3, 5)}),
              sig AS (${ExtQueries.minhashSigSql}),
              cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                       FROM sig x JOIN sig y
                         ON x.mh0 = y.mh0 AND x.mh1 = y.mh1
                            AND x.doc_id < y.doc_id
                       UNION
                       SELECT x.doc_id, y.doc_id FROM sig x JOIN sig y
                         ON x.mh2 = y.mh2 AND x.mh3 = y.mh3
                            AND x.doc_id < y.doc_id),
              j AS (SELECT ex.jac,
                      CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
                    FROM ex LEFT JOIN cand
                      ON cand.doc_a = ex.doc_a AND cand.doc_b = ex.doc_b)
         SELECT CAST(floor(jac * 10) AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_true,
                CAST(sum(hit) AS BIGINT) AS n_caught,
                round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall
         FROM j GROUP BY 1"""),
  )

  /** Q178 [X]: chi-square independence of source × language
    * (`ops/Drift.chiSquare`) with Cramér's V — the categorical
    * association test beside q78's PSI drift: is the language mix the
    * same in every feed, and how strong is the coupling? Cell terms
    * round at 9 and sum as DECIMAL(38,12) (order-free — the q152
    * discipline); cells are category-domain-bounded.
    */
  val q178 = OracleQuery(
    "q178_chi_square",
    (s, d) => graft.ops.Drift.chiSquare(
      Tables.documents(s, d), "source", "lang"),
    Some("""WITH cells AS (SELECT source AS a, lang AS b,
                     CAST(count(*) AS BIGINT) AS o
                   FROM documents GROUP BY 1, 2),
              rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra
                   FROM cells GROUP BY 1),
              ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
                   FROM cells GROUP BY 1),
              tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT a) AS BIGINT) AS nr,
                     CAST(count(DISTINCT b) AS BIGINT) AS nc
                   FROM cells),
              tm AS (SELECT tt.n, tt.nr, tt.nc,
                     CAST(round(
                       (CAST(o AS DOUBLE) -
                        CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(o AS DOUBLE) -
                        CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) /
                       (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(38,12)) AS t
                   FROM cells JOIN rt USING (a) JOIN ct USING (b), tt),
              ag AS (SELECT n, nr, nc, sum(t) AS chi
                   FROM tm GROUP BY 1, 2, 3)
         SELECT n, nr AS n_rows, nc AS n_cols,
                (nr - 1) * (nc - 1) AS dof,
                round(CAST(chi AS DOUBLE), 6) AS chi2,
                round(sqrt(CAST(chi AS DOUBLE) /
                      (CAST(n AS DOUBLE) *
                       CAST(least(nr - 1, nc - 1) AS DOUBLE))), 6)
                  AS cramers_v
         FROM ag"""),
  )

  /** Q193 [X]: two-sample Kolmogorov–Smirnov drift test
    * (`ops/Drift.ksTest`) — purchase vs click `value` distributions
    * over events: D = max |F_A − F_B| over every observed value, the
    * shape-level complement of q78's bucketed PSI and q178's categorical
    * chi-square. The value-ordered ECDF cumsum is the q140 two-phase
    * shape (range buckets → tiny phase-1 window, parallel phase 2); the
    * per-value d is identical IEEE ops on exact integer counts, so
    * max/argmax carry no float-drift surface, and the argmax value
    * reports with a min tiebreak. The twin mirrors with one window
    * cumsum (fine at oracle scale).
    */
  val q193 = OracleQuery(
    "q193_ks_drift",
    (s, d) => graft.ops.Drift.ksTest(
      Tables.events(s, d).filter(col("event_type").isin("purchase", "click")),
      "value", col("event_type") === "purchase"),
    Some(graft.ops.Drift.ecdfSql(
      """SELECT value AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = false)),
  )

  /** Q197 [X]: 1-D Wasserstein (earth mover's) drift distance
    * (`ops/Drift.wasserstein1`) on the same purchase-vs-click cohorts
    * as q193 — W₁ = ∫|F_A − F_B| dv, the shift MAGNITUDE where KS is
    * the worst quantile gap; the consecutive-value link is a rank
    * equi-join on the shared two-phase ECDF (no global lead window),
    * interval terms round(9) → DECIMAL(38,12) → order-free sum.
    */
  val q197 = OracleQuery(
    "q197_wasserstein_drift",
    (s, d) => graft.ops.Drift.wasserstein1(
      Tables.events(s, d).filter(col("event_type").isin("purchase", "click")),
      "value", col("event_type") === "purchase"),
    Some(graft.ops.Drift.ecdfSql(
      """SELECT value AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = true)),
  )

  /** Q198 [X]: join-key SKEW advisor (`ops/Salting.skewReport`) — the
    * measurement step of the salting workflow: hottest lineitem
    * suppliers with count, share, skew factor (count ÷ mean-per-key),
    * and the salt bucket count (`ceil(cnt/target)`) the salted
    * operators should take. At 100 TB this is the query you run BEFORE
    * the expensive join to decide whether AQE's skew handling needs
    * help; all-integer except two exact-ratio divisions.
    */
  val q198 = OracleQuery(
    "q198_skew_report",
    (s, d) => graft.ops.Salting.skewReport(
      Tables.lineitem(s, d), "l_suppkey", targetPerTask = 100L, k = 10),
    Some("""WITH c AS (SELECT l_suppkey AS key,
                     CAST(count(*) AS BIGINT) AS cnt
                   FROM lineitem GROUP BY 1),
              t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS k FROM c),
              r AS (SELECT key, cnt,
                     row_number() OVER (ORDER BY cnt DESC, key) AS rr
                   FROM c)
         SELECT r.key, r.cnt,
                round(CAST(cnt AS DOUBLE) / t.n, 6) AS share,
                round(CAST(cnt AS DOUBLE) * t.k / t.n, 6) AS skew,
                (cnt + 99) // 100 AS salt_buckets
         FROM r, t WHERE rr <= 10"""),
  )

  /** Q199 [X]: HILBERT curve index (`ops/StorageLayout.hilbertValue`, a
    * native codegen expression) — the locality-preserving layout key
    * beside q82's Z-order: the twin replays the identical bit walk
    * (rx/ry extraction, `s²·((3·rx)⊕ry)` quadrant offset, conditional
    * reflect+swap) as a per-row recursive CTE over the `order` levels,
    * so a hash match proves the generated Java loop ≡ the public d2xy
    * formulation step for step. Correctness (unit-step adjacency — the
    * property Z-order lacks) is pinned exhaustively in the spec.
    */
  val q199 = OracleQuery(
    "q199_hilbert_index",
    (s, d) => Tables.customer(s, d).select(
      col("c_custkey"),
      (col("c_custkey") % 347).cast("long").as("x"),
      (col("c_custkey") % 161).cast("long").as("y"))
      .withColumn("h", graft.ops.StorageLayout.hilbertValue(
        col("x"), col("y"), order = 9)),
    Some("""WITH RECURSIVE pts AS (
              SELECT c_custkey, CAST(c_custkey % 347 AS BIGINT) AS x0,
                     CAST(c_custkey % 161 AS BIGINT) AS y0
              FROM customer),
            hw(key, x, y, d, s) AS (
              SELECT c_custkey, x0, y0, 0::BIGINT, 256::BIGINT FROM pts
              UNION ALL
              SELECT key,
                CASE WHEN (y & s) = 0
                     THEN CASE WHEN (x & s) != 0 THEN s - 1 - y ELSE y END
                     ELSE x END,
                CASE WHEN (y & s) = 0
                     THEN CASE WHEN (x & s) != 0 THEN s - 1 - x ELSE x END
                     ELSE y END,
                d + s * s * (CASE WHEN (x & s) = 0 AND (y & s) = 0 THEN 0
                                  WHEN (x & s) = 0 THEN 1
                                  WHEN (y & s) = 0 THEN 3
                                  ELSE 2 END),
                s // 2
              FROM hw WHERE s > 0)
       SELECT p.c_custkey, p.x0 AS x, p.y0 AS y, hw.d AS h
       FROM hw JOIN pts p ON p.c_custkey = hw.key
       WHERE hw.s = 0"""),
  )

  /** Q201 [X]: INCREMENTAL two-sample KS (`ops/Drift.incrementalKs`) —
    * the drift member of the incremental-ingest family: the arriving
    * purchase batch probes the FROZEN click-corpus count table
    * (`Drift.ecdfTable`) without re-reading corpus rows. The twin
    * recomputes the same two-sample KS directly over the raw cohorts
    * (the q193 windowed form) — the hash match is the exactness proof
    * that the pre-aggregated probe ≡ the full recompute, argmax value
    * included.
    */
  val q201 = OracleQuery(
    "q201_incremental_ks",
    (s, d) => {
      val ev = Tables.events(s, d)
      val corpus = graft.ops.Drift.ecdfTable(
        ev.filter(col("event_type") === "click"), "value")
        .localCheckpoint() // the frozen, persistable corpus structure
      graft.ops.Drift.incrementalKs(corpus,
        ev.filter(col("event_type") === "purchase"), "value")
    },
    Some(graft.ops.Drift.ecdfSql(
      """SELECT value AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = false)),
  )

  /** Q202 [X]: INCREMENTAL Wasserstein-1
    * (`ops/Drift.incrementalWasserstein`) — the same frozen
    * click-corpus count table as q201 serves the magnitude statistic
    * too: one persisted structure, both drift probes. Twin = the q197
    * windowed form on the cohorts — hash match proves probe ≡
    * recompute.
    */
  val q202 = OracleQuery(
    "q202_incremental_wasserstein",
    (s, d) => {
      val ev = Tables.events(s, d)
      val corpus = graft.ops.Drift.ecdfTable(
        ev.filter(col("event_type") === "click"), "value")
        .localCheckpoint()
      graft.ops.Drift.incrementalWasserstein(corpus,
        ev.filter(col("event_type") === "purchase"), "value")
    },
    Some(graft.ops.Drift.ecdfSql(
      """SELECT value AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = true)),
  )

  /** Q205 [X]: QUANTIZED incremental KS
    * (`ops/Drift.quantizedEcdfTable` + `incrementalKsQuantized`) — the
    * grid-bounded form of q201 for continuous values at 100 TB: corpus
    * and batch snap to the LEFT EDGE of a shared 0.25-wide grid, so the
    * frozen count table is ≤ range/step cells forever. `step = 0.25` is
    * a POWER OF TWO on purpose: v/0.25, floor, and ·0.25 are all exact
    * IEEE operations, so the cell values are bit-identical across
    * engines by construction (not merely by both running the same op
    * sequence). The twin quantizes in SQL and replays the q201 windowed
    * form — the hash match proves probe ≡ full recompute AT GRID
    * RESOLUTION, the contract the spec pins in miniature.
    */
  val q205 = OracleQuery(
    "q205_quantized_ks",
    (s, d) => {
      val ev = Tables.events(s, d)
      val step = 0.25
      val corpus = graft.ops.Drift.quantizedEcdfTable(
        ev.filter(col("event_type") === "click"), "value", step)
        .localCheckpoint() // the frozen, grid-bounded corpus structure
      graft.ops.Drift.incrementalKsQuantized(corpus,
        ev.filter(col("event_type") === "purchase"), "value", step)
    },
    Some(graft.ops.Drift.ecdfSql(
      """SELECT floor(value / 0.25) * 0.25 AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = false)),
  )

  /** Q206 [X]: QUANTIZED incremental Wasserstein-1 — the same frozen
    * grid table as q205 serves the magnitude statistic (one persisted
    * structure, both probes, as q201/q202): W₁ measured at grid
    * resolution, interval terms now cell-edge distances (multiples of
    * the exact 0.25 step).
    */
  val q206 = OracleQuery(
    "q206_quantized_wasserstein",
    (s, d) => {
      val ev = Tables.events(s, d)
      val step = 0.25
      val corpus = graft.ops.Drift.quantizedEcdfTable(
        ev.filter(col("event_type") === "click"), "value", step)
        .localCheckpoint()
      graft.ops.Drift.incrementalWassersteinQuantized(corpus,
        ev.filter(col("event_type") === "purchase"), "value", step)
    },
    Some(graft.ops.Drift.ecdfSql(
      """SELECT floor(value / 0.25) * 0.25 AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
         FROM events WHERE event_type IN ('purchase', 'click')""", w1 = true)),
  )

  /** Q212 [X layout]: shard manifest ([[graft.ops.Manifest.shardManifest]])
    * — the dataset-card record for a rendezvous-sharded corpus: per-shard
    * row/token/char totals, id range, and an ORDER-FREE mod-P content
    * checksum (sum of per-row fingerprints — commutative, so parallel
    * shard writers need no stable row order). One scan + one group-by,
    * all codegen'd integer math; the twin replays the fingerprint
    * arithmetic exactly (everything below 2^63 by construction).
    */
  val q212 = OracleQuery(
    "q212_shard_manifest",
    (s, d) => graft.ops.Manifest.shardManifest(
      Tables.documents(s, d), "doc_id", "text", shards = 8),
    Some(graft.ops.Manifest.shardManifestSql(shards = 8)),
  )

  /** Q213 [X sketch]: bottom-k (KMV) vocabulary sketch per source
    * ([[graft.ops.Sketches.bottomK]], k = 64) — the DETERMINISTIC
    * mergeable distinct sketch next to q24's HLL: the k smallest distinct
    * portable token hashes per group. Distinct-before-rank makes the
    * order total; the twin replays hash, distinct, and rank.
    */
  val q213 = OracleQuery(
    "q213_bottomk_sketch",
    (s, d) => graft.ops.Sketches.bottomK(
      Tables.documents(s, d)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok")),
      "source", "tok", k = 64),
    Some(s"""WITH tk AS (SELECT DISTINCT source, ${tokenHashSql("tok")} AS h
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                        FROM documents)),
              r AS (SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                    FROM tk)
         SELECT source, rn, h FROM r WHERE rn <= 64"""),
  )

  /** Q214 [X incremental]: bottom-k MERGE certificate — the corpus
    * (doc_id % 10 ≠ 0) and batch (% 10 = 0) are sketched SEPARATELY and
    * merged in O(k) per source ([[graft.ops.Sketches.merge]]), then
    * summarized to the KMV distinct estimate; the twin recomputes the
    * sketch from the FULL corpus directly, so the hash match IS the
    * `bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))` merge law —
    * the deterministic counterpart of the HLL union (ST22) and the
    * newest member of the incremental family.
    */
  val q214 = OracleQuery(
    "q214_bottomk_merge",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(Dedup.tokens(col("text"))).as("tok"))
      val corpus = graft.ops.Sketches.bottomK(
        tok.filter(col("doc_id") % 10 =!= 0), "source", "tok", k = 64)
      val batch = graft.ops.Sketches.bottomK(
        tok.filter(col("doc_id") % 10 === 0), "source", "tok", k = 64)
      graft.ops.Sketches.distinctEstimate(
        graft.ops.Sketches.merge(corpus, batch, "source", k = 64),
        "source", k = 64)
    },
    Some(s"""WITH tk AS (SELECT DISTINCT source, ${tokenHashSql("tok")} AS h
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                        FROM documents)),
              r AS (SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                    FROM tk),
              sk AS (SELECT source, h FROM r WHERE rn <= 64),
              a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sketch,
                       max(h) AS h_k
                    FROM sk GROUP BY 1)
         SELECT source, n_sketch, h_k,
                round(CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                           ELSE 6300000000.0 / CAST(h_k AS DOUBLE) END, 6)
                  + 0.0 AS est_distinct
         FROM a"""),
  )

  /** Q216 [X sketch]: the PRODUCTION-WIDTH bottom-k sketch — q214's
    * merge-law certificate re-run at hash space 2^63
    * ([[graft.ops.Sketches.bottomK64]] over
    * [[graft.ext.TextHash.tokenHash63]]): corpus (doc_id % 10 ≠ 0) and
    * batch (% 10 = 0) sketched separately, merged in O(k) per source,
    * summarized to the KMV estimate. The 1e8-space form (q213/q214)
    * stays for twin simplicity, but ITS estimator biases ~5% downward
    * by 1e7 distinct per group and saturates near 1e8 — this is the
    * width a 100 TB vocabulary/user-id cardinality needs (bias
    * negligible below ~3e13 distinct). The twin recomputes the sketch
    * from the FULL corpus with the same three-limb 63-bit hash (plain
    * BIGINT on both engines — every product < 2^63, no HUGEINT wrap),
    * so the hash match certifies the merge law AND the hash-assembly
    * parity at once. Estimator numerator 63·2^63 is EXACT in a double
    * (6 significand bits) — written as the same two-factor product on
    * both sides.
    */
  val q216 = OracleQuery(
    "q216_bottomk64_merge",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(Dedup.tokens(col("text"))).as("tok"))
      val corpus = graft.ops.Sketches.bottomK64(
        tok.filter(col("doc_id") % 10 =!= 0), "source", "tok", k = 64)
      val batch = graft.ops.Sketches.bottomK64(
        tok.filter(col("doc_id") % 10 === 0), "source", "tok", k = 64)
      graft.ops.Sketches.distinctEstimate64(
        graft.ops.Sketches.merge(corpus, batch, "source", k = 64),
        "source", k = 64)
    },
    Some(s"""WITH tk AS (SELECT DISTINCT source,
                       ${graft.ext.TextHash.tokenHash63Sql("tok")} AS h
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                        FROM documents)),
              r AS (SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                    FROM tk),
              sk AS (SELECT source, h FROM r WHERE rn <= 64),
              a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sketch,
                       max(h) AS h_k
                    FROM sk GROUP BY 1)
         SELECT source, n_sketch, h_k,
                round(CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                           ELSE (63.0 * 9223372036854775808.0) /
                                CAST(h_k AS DOUBLE) END, 6)
                  + 0.0 AS est_distinct
         FROM a"""),
  )

  /** Q217 [X incremental]: shard-manifest MERGE certificate — the
    * corpus (doc_id % 10 ≠ 0) and batch (% 10 = 0) manifests are built
    * SEPARATELY and merged in O(shards)
    * ([[graft.ops.Manifest.mergeManifests]]: counts/totals add, id
    * ranges combine, mod-P checksums ADD — the additive design the
    * order-free fingerprint sum was chosen for); the twin recomputes
    * the manifest from the FULL table directly, so the hash match IS
    * the `merge(manifest(A), manifest(B)) = manifest(A ∪ B)` law — an
    * appended batch updates a dataset card in O(batch), never a corpus
    * re-read (the q214 certificate shape for the manifest family).
    */
  val q217 = OracleQuery(
    "q217_manifest_merge",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Manifest.mergeManifests(
        graft.ops.Manifest.shardManifest(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", shards = 8),
        graft.ops.Manifest.shardManifest(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", shards = 8))
    },
    Some(graft.ops.Manifest.shardManifestSql(shards = 8)),
  )

  /** Q215 [X eval]: Cohen's kappa ([[graft.ops.Agreement.cohenKappa]])
    * between two binary raters per source — the labeling-QA primitive
    * (here the raters are the token-length and char-length gates, which
    * correlate but disagree on ~10% of docs, so kappa sits well below
    * raw agreement). All doubles are single divisions of exact integer
    * cross-products — cross-engine bit parity by construction.
    */
  val q215 = OracleQuery(
    "q215_rater_kappa",
    (s, d) => graft.ops.Agreement.cohenKappa(
      Tables.documents(s, d), "source",
      size(split(col("text"), " ")) >= 56, col("n_chars") >= 330),
    Some(graft.ops.Agreement.cohenKappaSql(
      "documents", "source", "source",
      "len(string_split(text, ' ')) >= 56", "n_chars >= 330")),
  )

  /** The token relation the three linear-sketch queries share, and the
    * matching DuckDB FROM clauses. The explode is a cheap single-scan
    * projection (the q214 precedent — no checkpoint: each reuse is one
    * pushdown-friendly parquet scan, cheaper than materializing the
    * corpus-sized token relation).
    */
  private def tokRel(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      explode(Dedup.tokens(col("text"))).as("tok"))
  private val tokFrom =
    "(SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)"
  private val probeFrom =
    """(SELECT DISTINCT source, tok FROM
          (SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents) WHERE doc_id % 101 = 0)"""

  /** Q222 [X sketch]: count-min frequency estimates off a MERGED sketch
    * ([[graft.ops.LinearSketches]], depth 3 × width 256) — corpus
    * (doc_id % 10 ≠ 0) and batch (% 10 = 0) sketched separately, merged
    * by element-wise counter ADDITION (`cmsMerge` — the LINEAR merge
    * law, exact by construction), then probed with the distinct tokens
    * of the % 101 = 0 docs. The twin builds its sketch from the FULL
    * corpus, so the hash match certifies the merge law AND the salted
    * bucket-hash parity at once; estimates are exact integers (CMS
    * overestimates under collisions identically on both engines).
    */
  val q222 = OracleQuery(
    "q222_cms_estimate",
    (s, d) => {
      // tok feeds three consumers, but a checkpoint here LOSES (QBench
      // r14 idle-host A/B: 0.432 → 0.562 s min): the probe's
      // doc_id % 101 filter pushes into the parquet scan when the plan
      // stays lazy, and the re-run tokenize explode is cheaper than
      // materializing the full token relation. Contrast q223, where the
      // two consumers both need ALL tokens and the checkpoint wins.
      val tok = tokRel(s, d)
      val merged = graft.ops.LinearSketches.cmsMerge(
        graft.ops.LinearSketches.cmsSketch(
          tok.filter(col("doc_id") % 10 =!= 0), "source", "tok", 3, 256),
        graft.ops.LinearSketches.cmsSketch(
          tok.filter(col("doc_id") % 10 === 0), "source", "tok", 3, 256),
        "source")
      graft.ops.LinearSketches.cmsEstimate(
        merged,
        tok.filter(col("doc_id") % 101 === 0)
          .select(col("source"), col("tok")).distinct(),
        "source", "tok", 3, 256)
    },
    Some(graft.ops.LinearSketches.cmsEstimateSql(
      tokFrom, probeFrom, "source", "source", "tok", "tok", 3, 256)),
  )

  /** Q223 [X sketch]: AMS/count-sketch second-moment (F2) estimate off a
    * MERGED sketch (depth 3 × width 256): F2 = Σ f_tok² — the self-join
    * size / collision mass of the token distribution, the skew statistic
    * a repartition planner reads. Corpus/batch sketched separately,
    * merged by SIGNED counter addition, then the median-row estimator —
    * all exact BIGINT math end to end. The twin recomputes from the full
    * corpus: the hash match is the linear merge law for signed sketches.
    */
  val q223 = OracleQuery(
    "q223_ams_f2",
    (s, d) => {
      // Round-16 re-A/B: the r14 checkpoint win (3.754 → 3.547 s) was
      // measured when amsSketch's per-token hashes ran the regex path;
      // with translate-based tokenHash the double explode is cheaper
      // than serializing the token relation (3.01 → 2.77 s min-of-5
      // without the checkpoint), so the q86 multi-use rule no longer
      // binds here — same verdict as GramIndex.tf this round.
      val tok = tokRel(s, d)
      graft.ops.LinearSketches.amsF2Estimate(
        graft.ops.LinearSketches.amsMerge(
          graft.ops.LinearSketches.amsSketch(
            tok.filter(col("doc_id") % 10 =!= 0), "source", "tok", 3, 256),
          graft.ops.LinearSketches.amsSketch(
            tok.filter(col("doc_id") % 10 === 0), "source", "tok", 3, 256),
          "source"),
        "source", depth = 3)
    },
    Some(graft.ops.LinearSketches.amsF2Sql(
      tokFrom, "source", "source", "tok", 3, 256)),
  )

  /** Q224 [X sketch]: feature-hashed source similarity — every source's
    * token stream projected to a 1024-bucket signed vector (the hashing
    * trick, [[graft.ops.LinearSketches.featureHash]]; no vocabulary scan,
    * state = dim buckets per source FOREVER), then all-pairs cosine over
    * the |sources|² pair relation. Integer dots/norms; one double
    * division against sqrt(na)·sqrt(nb) (two exact factors — the integer
    * norm PRODUCT could exceed 2^63).
    */
  val q224 = OracleQuery(
    "q224_hashed_cosine",
    (s, d) => graft.ops.LinearSketches.hashedCosine(
      graft.ops.LinearSketches.featureHash(
        tokRel(s, d), "source", "tok", dim = 1024),
      "source"),
    Some(graft.ops.LinearSketches.hashedCosineSql(
      tokFrom, "source", "source", "tok", dim = 1024)),
  )

  /** Q226 [X test]: Welch's unequal-variance t-test on document length
    * (n_chars) between ALL source pairs ([[graft.ops.Hypothesis
    * .welchTTest]]) — the location-significance readout the drift family
    * (PSI/KS: "did it move?") doesn't give. Integer Σx/Σx² per source
    * are exact longs; t and the Welch-Satterthwaite df form by one
    * identical double-op sequence on both engines (the kappa rule).
    * Pairs the 20-row GROUP table, never the corpus.
    */
  val q226 = OracleQuery(
    "q226_welch_ttest",
    (s, d) => graft.ops.Hypothesis.welchTTest(
      Tables.documents(s, d), "source", col("n_chars")),
    Some(graft.ops.Hypothesis.welchTTestSql(
      "documents", "source", "source", "n_chars")),
  )

  /** Q227 [X test]: tie-corrected Mann-Whitney U between A/B arms
    * (user_id parity) on event value, per event type
    * ([[graft.ops.Hypothesis.mannWhitneyU]]) — the rank-based location
    * test for value columns whose SUMS aren't portable (doubles):
    * ranks never materialize per row (per-DISTINCT-value cohort counts
    * + prior cumulative ⇒ the DOUBLED rank sum is an exact integer),
    * and z forms from exact integers by one identical double sequence.
    */
  val q227 = OracleQuery(
    "q227_mannwhitney_ab",
    (s, d) => graft.ops.Hypothesis.mannWhitneyU(
      Tables.events(s, d), "event_type",
      col("user_id") % 2 === 0, col("value")),
    Some(graft.ops.Hypothesis.mannWhitneyUSql(
      "events", "event_type", "event_type", "user_id % 2 = 0", "value")),
  )

  /** Q228 [X sketch]: mergeable grid quantiles — per-arm quantized ECDF
    * tables (the q205 0.25 grid) MERGED by count addition
    * ([[graft.ops.Drift.mergeEcdfTables]] — the linear law for count
    * tables), then the percentile ladder read off the merged table
    * ([[graft.ops.Drift.quantilesFromEcdf]]: smallest cell whose
    * cumulative reaches ceil(p/100·n)). The twin rebuilds the table
    * from the FULL corpus, so the hash match certifies the merge law
    * AND the inverse-CDF probe; exact at grid resolution, O(cells) per
    * probe, corpus rows never re-read.
    */
  val q228 = OracleQuery(
    "q228_grid_quantiles",
    (s, d) => {
      val ev = Tables.events(s, d)
      val step = 0.25
      graft.ops.Drift.quantilesFromEcdf(
        graft.ops.Drift.mergeEcdfTables(
          graft.ops.Drift.quantizedEcdfTable(
            ev.filter(col("user_id") % 2 === 0), "value", step),
          graft.ops.Drift.quantizedEcdfTable(
            ev.filter(col("user_id") % 2 =!= 0), "value", step)),
        Seq(1, 5, 25, 50, 75, 95, 99))
    },
    Some("""WITH q AS (SELECT floor(value / 0.25) * 0.25 AS v FROM events),
              c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
                    FROM q GROUP BY 1),
              cum AS (SELECT v, sum(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum
                      FROM c),
              n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
              ps(pct) AS (VALUES (1), (5), (25), (50), (75), (95), (99)),
              r AS (SELECT ps.pct, n.n,
                      greatest(1, CAST(ceil(CAST(ps.pct AS DOUBLE) / 100.0
                        * CAST(n.n AS DOUBLE)) AS BIGINT)) AS r
                    FROM ps, n)
         SELECT r.pct, r.r, r.n, min(cum.v) AS v_q
         FROM r JOIN cum ON cum.cum >= r.r
         GROUP BY 1, 2, 3"""),
  )

  /** Q229 [X test]: two-proportion z-test between A/B arms (user_id
    * parity) on the high-value-event rate (value ≥ 100), per event type
    * ([[graft.ops.Hypothesis.twoProportionZ]]) — the conversion-rate
    * A/B readout beside q227's rank test: counts are the only
    * aggregates, the pooled-SE statistic is one identical double
    * sequence on both engines.
    */
  val q229 = OracleQuery(
    "q229_two_proportion_z",
    (s, d) => graft.ops.Hypothesis.twoProportionZ(
      Tables.events(s, d), "event_type",
      col("user_id") % 2 === 0, col("value") >= 100.0),
    Some(graft.ops.Hypothesis.twoProportionZSql(
      "events", "event_type", "event_type",
      "user_id % 2 = 0", "value >= 100.0")),
  )

  /** Q231 [X incremental]: Welch probe off MERGED moment-stats tables —
    * the hypothesis family's incremental member: per-source (n, Σx, Σx²)
    * tables are LINEAR (counts/sums add — [[graft.ops.Hypothesis
    * .mergeStatsTables]]), so the corpus side here is two shard tables
    * merged, probed against the batch's own table by
    * [[graft.ops.Hypothesis.welchFromStats]] with no row re-read. The
    * twin rebuilds both cohorts' stats from the full table — the hash
    * match certifies the stats merge law AND the probe math at once
    * (the q214/q222 certificate shape). A drifted batch shows up as t
    * without the corpus ever re-scanning. Split moduli are COPRIME with
    * the testdata's source stride (source = doc_id mod 20): a %-10
    * batch would land entirely in src0/src10 and leave every source
    * one-cohorted — %-7 batch and %-3 corpus shards populate both arms
    * of all 20 sources.
    */
  val q231 = OracleQuery(
    "q231_welch_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val isBatch = col("doc_id") % 7 === 0
      val corpusStats = graft.ops.Hypothesis.mergeStatsTables(
        graft.ops.Hypothesis.statsTable(
          docs.filter(!isBatch && col("doc_id") % 3 === 0),
          "source", col("n_chars")),
        graft.ops.Hypothesis.statsTable(
          docs.filter(!isBatch && col("doc_id") % 3 =!= 0),
          "source", col("n_chars")))
      val batchStats = graft.ops.Hypothesis.statsTable(
        docs.filter(isBatch), "source", col("n_chars"))
      graft.ops.Hypothesis.welchFromStats(corpusStats, batchStats, "source")
    },
    Some(graft.ops.Hypothesis.welchSplitSql(
      "documents", "source", "source", "n_chars", "doc_id % 7 = 0")),
  )

  /** Q232 [X eval]: ROC-AUC of char length predicting the token-length
    * gate, per source ([[graft.ops.Hypothesis.rocAuc]]) — EXACT via the
    * rank identity AUC = U₊/(n₊·n₋) (ties ½): one pass + one bounded
    * window, never the n₊·n₋ pair relation. The gate-tuning companion
    * of q215's kappa (same two raters, now scored as a classifier).
    */
  val q232 = OracleQuery(
    "q232_roc_auc",
    (s, d) => graft.ops.Hypothesis.rocAuc(
      Tables.documents(s, d), "source",
      size(split(col("text"), " ")) >= 56, col("n_chars")),
    Some(graft.ops.Hypothesis.rocAucSql(
      "documents", "source", "source",
      "len(string_split(text, ' ')) >= 56", "n_chars")),
  )

  /** Q233 [X eval]: confusion counts + precision/recall/F1 at a
    * threshold ladder ([[graft.ops.Hypothesis.confusionAtThresholds]])
    * — the operating-point table read next to q232's scalar AUC when
    * tuning a gate: one scan × |ladder| conditional integer sums, the
    * ratios single divisions of exact longs (NULL at 0 denominators on
    * both engines).
    */
  val q233 = OracleQuery(
    "q233_threshold_confusion",
    (s, d) => graft.ops.Hypothesis.confusionAtThresholds(
      Tables.documents(s, d), "source",
      size(split(col("text"), " ")) >= 56, col("n_chars"),
      Seq(250.0, 300.0, 330.0, 360.0, 420.0)),
    Some(graft.ops.Hypothesis.confusionAtThresholdsSql(
      "documents", "source", "source",
      "len(string_split(text, ' ')) >= 56", "n_chars",
      Seq(250.0, 300.0, 330.0, 360.0, 420.0))),
  )

  /** Q234 [X text]: per-source Jensen-Shannon divergence vs the corpus
    * ([[graft.ext.TextAnalysis.sliceTokenJsd]]) — the SYMMETRIC BOUNDED
    * recipe distance beside q88's KL (which explodes on rare slice
    * tokens). The q-side vocabulary sum collapses to a closed form for
    * slice-absent tokens (½·ln2·(1−Q_s), Q_s exact integers), so the
    * relation stays the q88 per-slice token table; present terms ride
    * the round(12)→DECIMAL route; ln 2 is a spelled-out literal (libm
    * parity across engines is not guaranteed).
    */
  val q234 = OracleQuery(
    "q234_source_jsd",
    (s, d) => TextAnalysis.sliceTokenJsd(
      Tables.documents(s, d), "source", "text"),
    Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents),
              sw AS MATERIALIZED (SELECT source, w,
                     CAST(count(*) AS BIGINT) AS cnt_sw
                   FROM tok GROUP BY 1, 2),
              wt AS (SELECT w, CAST(sum(cnt_sw) AS BIGINT) AS cnt_w
                   FROM sw GROUP BY 1),
              st AS (SELECT source, CAST(sum(cnt_sw) AS BIGINT) AS n_s
                   FROM sw GROUP BY 1),
              tt AS (SELECT CAST(sum(cnt_w) AS BIGINT) AS n_tot FROM wt),
              c AS (SELECT source, n_s, n_tot, cnt_w,
                     CAST(round((CAST(cnt_sw AS DOUBLE)/CAST(n_s AS DOUBLE)) *
                        ln((CAST(cnt_sw AS DOUBLE)/CAST(n_s AS DOUBLE)) /
                           (((CAST(cnt_sw AS DOUBLE)/CAST(n_s AS DOUBLE)) +
                             (CAST(cnt_w AS DOUBLE)/CAST(n_tot AS DOUBLE)))
                            / 2.0)), 12) AS DECIMAL(32,12)) AS jp,
                     CAST(round((CAST(cnt_w AS DOUBLE)/CAST(n_tot AS DOUBLE)) *
                        ln((CAST(cnt_w AS DOUBLE)/CAST(n_tot AS DOUBLE)) /
                           (((CAST(cnt_sw AS DOUBLE)/CAST(n_s AS DOUBLE)) +
                             (CAST(cnt_w AS DOUBLE)/CAST(n_tot AS DOUBLE)))
                            / 2.0)), 12) AS DECIMAL(32,12)) AS jq
                   FROM sw JOIN wt USING (w) JOIN st USING (source), tt)
         SELECT source, CAST(min(n_s) AS BIGINT) AS n_tok,
                round(0.5 * CAST(sum(jp) + sum(jq) AS DOUBLE) +
                      0.5 * 0.6931471805599453 *
                      (1.0 - CAST(sum(cnt_w) AS DOUBLE) /
                             CAST(min(n_tot) AS DOUBLE)), 6) + 0.0 AS jsd
         FROM c GROUP BY source"""),
  )

  /** Q235 [X profile]: Gini concentration of document length per source
    * ([[graft.ops.Profile.giniIndex]]) — the volume-skew read a shard
    * planner wants ("is this source a few huge docs or many small
    * ones"): exact rank-weighted integer sums, tie-order invariant by
    * construction, one division at the surface.
    */
  val q235 = OracleQuery(
    "q235_length_gini",
    (s, d) => graft.ops.Profile.giniIndex(
      Tables.documents(s, d), "source", col("n_chars")),
    Some(graft.ops.Profile.giniIndexSql(
      "documents", "source", "source", "n_chars")),
  )

  /** The (source, pct, v_q) ladder q242's certificate re-derives exact
    * ranks for (the dynOracle seam).
    */
  private object RankSketchState {
    @volatile var ladder: Option[Seq[(String, Int, Long)]] = None
  }

  /** Q242 [X sketch]: GRID-FREE quantiles off a persisted + merged rank
    * sketch ([[graft.ops.Sketches.rankSketch]] — bottom-k value sample
    * with exact counts, k=64): corpus sketch → `IndexStore.writeRankSketch`
    * → load → merge the 10% batch's sketch (O(batch + k), bit-equal to a
    * cold rebuild — the law `RankSketchSpec` pins) → percentile ladder
    * with NO pre-declared grid/range/step (the case q228's quantized
    * ECDF leaves open). Certificate: the run records the returned
    * (source, pct, v_q) rows; the twin recomputes each value's EXACT
    * corpus rank and group count — so every reported quantile's true
    * rank is driver-checked, while the ≤-O(1/√k) rank-error guarantee is
    * owned by the spec (the ANN division of labor).
    */
  val q242 = OracleQuery(
    "q242_rank_sketch_quantiles",
    (s, d) => {
      val k = 64
      val docs = Tables.documents(s, d).select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("v"))
      val rows = Scratch.withTempDir("graft_rsk_") { outPath =>
        val store = outPath.toString + "/rs"
        graft.ext.IndexStore.writeRankSketch(
          graft.ops.Sketches.rankSketch(
            docs.filter(col("doc_id") % 10 =!= 0), "source", "v", k),
          k, store)
        val (loaded, kLoaded) = graft.ext.IndexStore.loadRankSketch(s, store)
        val merged = graft.ops.Sketches.rankSketchMerge(loaded,
          graft.ops.Sketches.rankSketch(
            docs.filter(col("doc_id") % 10 === 0), "source", "v", kLoaded),
          "source", kLoaded)
        graft.ops.Sketches.quantilesFromRankSketch(
          merged, "source", Seq(10, 50, 90)).collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      }
      RankSketchState.ladder = Some(rows)
      import s.implicits._
      val lit3 = rows.toDF("source", "pct", "v_q")
      val rex = lit3.join(docs, Seq("source"))
        .filter(col("v") <= col("v_q"))
        .groupBy("source", "pct", "v_q")
        .agg(count(lit(1)).as("r_exact"))
      rex.join(docs.groupBy("source").agg(count(lit(1)).as("n")), "source")
        .select(col("source"), col("pct"), col("v_q"), col("r_exact"),
          col("n"))
    },
    None,
    dynOracle = () => RankSketchState.ladder.map { rows =>
      def q(lit: String) = "'" + lit.replace("'", "''") + "'"
      val values = rows.map { case (src, p, v) => s"(${q(src)}, $p, ${v}::BIGINT)" }
        .mkString(", ")
      s"""WITH l(source, pct, v_q) AS (VALUES $values),
            d AS (SELECT source, CAST(length(text) AS BIGINT) AS v
                  FROM documents),
            n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                  FROM d GROUP BY 1),
            r AS (SELECT l.source, l.pct, l.v_q,
                    CAST(sum(CASE WHEN d.v <= l.v_q THEN 1 ELSE 0 END)
                      AS BIGINT) AS r_exact
                  FROM l JOIN d USING (source) GROUP BY 1, 2, 3)
         SELECT r.source, r.pct, r.v_q, r.r_exact, n.n
         FROM r JOIN n USING (source)"""
    },
  )

  private val refPsiThresholds: Seq[Long] =
    Seq(50L, 100L, 150L, 200L, 250L, 300L, 350L, 400L)

  /** Q257 [X]: PER-GROUP referenced PSI — the batch mirror of the ST34
    * streaming drift read ([[Drift.psiOfCounts]]): a frozen reference
    * count table (event_id % 3 ≠ 0 cohort, one [[Drift.referenceCounts]]
    * pass) probed by the live cohort's counts, PSI terms per
    * (event_type, bucket). q78's two-cohort PSI made per-group and
    * split into the persist-once/probe-forever shape; same float
    * discipline (the term is a product of same-sign factors — every
    * rounded output ≥ +0.0, no signed-zero hazard; all float math
    * happens once per bucket row).
    */
  val q257 = OracleQuery(
    "q257_referenced_psi",
    (s, d) => {
      val ev = Tables.events(s, d)
      val bucket = Drift.bucketOf(col("value"), refPsiThresholds)
      val ref = Drift.referenceCounts(
        ev.filter(col("event_id") % 3 =!= 0), "event_type", bucket)
      val live = ev.filter(col("event_id") % 3 === 0)
        .groupBy(col("event_type"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n_live"))
      Drift.psiOfCounts(ref, live, "event_type")
    },
    Some(s"""WITH b AS (SELECT event_type,
                   ${Drift.bucketSql("value", refPsiThresholds)} AS bucket,
                   event_id % 3 = 0 AS lv
                 FROM events),
            r AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_ref
                  FROM b WHERE NOT lv GROUP BY 1, 2),
            l AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_live
                  FROM b WHERE lv GROUP BY 1, 2),
            rt AS (SELECT event_type, CAST(sum(n_ref) AS BIGINT) AS tr
                   FROM r GROUP BY 1),
            lt AS (SELECT event_type, CAST(sum(n_live) AS BIGINT) AS tl
                   FROM l GROUP BY 1)
         SELECT event_type, bucket, n_ref, n_live,
                round((CAST(n_ref AS DOUBLE) / tr - CAST(n_live AS DOUBLE) / tl) *
                      ln((CAST(n_ref AS DOUBLE) / tr) /
                         (CAST(n_live AS DOUBLE) / tl)), 6) AS psi_term
         FROM r JOIN l USING (event_type, bucket)
              JOIN rt USING (event_type) JOIN lt USING (event_type)"""),
  )

  val all: Seq[OracleQuery] =
    Seq(q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q133,
      q136, q175, q178, q193, q197, q198, q199, q201, q202, q205, q206,
      q212, q213, q214, q215, q216, q217, q222, q223, q224, q226, q227,
      q228, q229, q231, q232, q233, q234, q235, q242, q257)
}
