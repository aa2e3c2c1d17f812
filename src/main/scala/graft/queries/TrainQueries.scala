package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Bpe, DedupCluster, Packing, Sampling, TextAnalysis, UnigramLm, WordPiece}
import graft.ext.TextHash.tokenHashSql

/** Training-data pipeline operators beyond the per-document signatures in
  * ExtQueries: near-dup *clustering* (connected components of the LSH
  * graph), deterministic hash sampling / train-test splits, token-budget
  * shard packing, rule-based quality filtering, and word masking
  * (PII-redaction primitive). Each has a DuckDB twin; the clustering twin
  * is a recursive CTE computing the same min-reachable-id components.
  */
object TrainQueries {

  /** Shared twin CTE for the LSH-graph connected components (q41, q120):
    * star edges per band bucket (member → min member), closed by a
    * recursive CTE; `cl` holds one row per doc with its min-reachable-id
    * cluster label.
    */
  private def clustersCte: String =
    s"""WITH RECURSIVE sig AS (${ExtQueries.minhashSigSql}),
            b0 AS (SELECT mh0, mh1, min(doc_id) AS root FROM sig GROUP BY mh0, mh1),
            b1 AS (SELECT mh2, mh3, min(doc_id) AS root FROM sig GROUP BY mh2, mh3),
            e AS (SELECT s.doc_id AS a, b0.root AS b FROM sig s
                    JOIN b0 USING (mh0, mh1) WHERE s.doc_id <> b0.root
                  UNION
                  SELECT s.doc_id AS a, b1.root AS b FROM sig s
                    JOIN b1 USING (mh2, mh3) WHERE s.doc_id <> b1.root),
            u AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
            lab AS (SELECT doc_id AS node, doc_id AS label FROM sig
                    UNION
                    SELECT u.a AS node, lab.label FROM lab JOIN u ON u.b = lab.node),
            cl AS (SELECT node AS doc_id, min(label) AS cluster_id,
                          CAST(CASE WHEN min(label) = node THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
                   FROM lab GROUP BY node)"""

  /** Q41 [X]: near-dup clusters — components of the band-star LSH graph.
    * The DuckDB twin builds the same star edges (bucket → min member) and
    * closes them with a recursive CTE; both sides label each cluster by
    * its minimum doc id, so results match exactly.
    */
  val q41 = OracleQuery(
    "q41_dedup_clusters",
    (s, d) => DedupCluster.dedupClusters(Tables.documents(s, d), "doc_id", "text"),
    Some(s"""$clustersCte
            SELECT doc_id, cluster_id, is_keeper FROM cl"""),
  )

  /** Q42 [X]: deterministic hash-bucket train/val/test split (80/10/10). */
  val q42 = OracleQuery(
    "q42_hash_split",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        Sampling.hashBucket(col("doc_id")).as("bucket"),
        Sampling.splitAssign(col("doc_id")).as("split")),
    Some(s"""SELECT doc_id,
                   ${Sampling.hashBucketSql("doc_id")} AS bucket,
                   CASE WHEN ${Sampling.hashBucketSql("doc_id")} < 80 THEN 'train'
                        WHEN ${Sampling.hashBucketSql("doc_id")} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents"""),
  )

  /** Q42b [X]: stratified sampling — per-language keep rates (downsample
    * the dominant en to 40%, zh to 20%, keep the rest whole), the mixture
    * knob of a training-data recipe.
    */
  val q42b = OracleQuery(
    "q42b_stratified_sample",
    (s, d) =>
      Tables.documents(s, d)
        .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 40, "zh" -> 20)))
        .select(col("doc_id"), col("lang"),
          Sampling.hashBucket(col("doc_id")).as("bucket")),
    Some(s"""SELECT doc_id, lang, ${Sampling.hashBucketSql("doc_id")} AS bucket
            FROM documents
            WHERE ${Sampling.hashBucketSql("doc_id")} <
                  CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 20 ELSE 100 END"""),
  )

  /** Q43 [X]: token-budget shard packing per source (offset-based
    * sharding: documents laid end-to-end in doc_id order, cut every 512
    * tokens; one window shuffle on the group key).
    */
  val q43 = OracleQuery(
    "q43_pack_shards",
    (s, d) =>
      Packing.packShards(
        Tables.documents(s, d).select("doc_id", "source", "text"),
        "doc_id", "source", TextAnalysis.tokenCount(col("text")), 512L)
        .select("doc_id", "source", "n_tok", "shard"),
    Some("""WITH t AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                   FROM documents),
                 c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
            SELECT doc_id, source, n_tok,
                   CAST((cum - n_tok) // 512 AS BIGINT) AS shard FROM c"""),
  )

  /** Q44 [X]: rule-based quality filter with a per-rule flags string
    * (S = short, U = low uniq ratio, L = long tokens; '-' = passed).
    */
  val q44 = OracleQuery(
    "q44_quality_filter",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.qualityFlags(col("text")).as("flags"),
        TextAnalysis.uniqueTokenRatio(col("text")).as("uniq_ratio"),
        TextAnalysis.charsPerToken(col("text")).as("chars_per_tok"))
        // derive keep from the materialized flags column, not a second
        // evaluation of the rule regexes
        .withColumn("keep", (col("flags") === "---").cast("int")),
    Some("""WITH t AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                         CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS uniq_ratio,
                   round(CAST(length(text) AS DOUBLE) /
                         CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS chars_per_tok
                   FROM documents),
                 f AS (SELECT *,
                   (CASE WHEN n_tok < 30 THEN 'S' ELSE '-' END ||
                    CASE WHEN uniq_ratio < 0.40 THEN 'U' ELSE '-' END ||
                    CASE WHEN chars_per_tok > 5.8 THEN 'L' ELSE '-' END) AS flags
                   FROM t)
            SELECT doc_id, flags,
                   CAST(CASE WHEN flags = '---' THEN 1 ELSE 0 END AS INTEGER) AS keep,
                   uniq_ratio, chars_per_tok FROM f"""),
  )

  /** Q45 [X]: word masking (the redaction primitive): mask the English
    * marker stopwords, count masked occurrences, hash the redacted text.
    * DuckDB's regexp_replace needs the 'g' flag to match Spark's
    * replace-all semantics.
    */
  private val MaskWords = Seq("the", "a", "and", "of", "to", "is")
  val q45 = OracleQuery(
    "q45_mask_words",
    (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.maskCount(col("text"), MaskWords).as("n_masked"),
        md5(TextAnalysis.maskWords(col("text"), MaskWords, "<x>")).as("h")),
    // NB: the `s` interpolator processes escape sequences even in
    // triple-quoted strings, so `\\b` here yields the single-backslash
    // regex word boundary `\b` in the SQL text (`\b` would be a backspace).
    Some(s"""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\b(${MaskWords.mkString("|")})\\b')) AS BIGINT) AS n_masked,
                   md5(regexp_replace(text, '\\b(${MaskWords.mkString("|")})\\b', '<x>', 'g')) AS h
            FROM documents"""),
  )

  /** Q46 [X]: unigram-LM fluency score — each document scored under the
    * corpus' own token distribution (two-pass global stats + broadcast
    * join back; the corpus analog of the reference's global-max
    * normalize pass).
    */
  val q46 = OracleQuery(
    "q46_unigram_logprob",
    (s, d) => TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
                 freq AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
                 tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq)
            SELECT doc_id,
                   round(sum(ln(CAST(cnt AS DOUBLE) / n_total)), 6) AS logprob,
                   CAST(count(*) AS BIGINT) AS n_tok
            FROM tok JOIN freq USING (w), tot GROUP BY doc_id"""),
  )

  /** Q47 [X]: TF-IDF top-3 terms per document. Ranking happens on the
    * ROUNDED score (then the term as a total-order tiebreak): raw doubles
    * from ln() can differ in the last ulp across engines, which would flip
    * near-tie orderings; rounding first makes the rank deterministic.
    */
  val q47 = OracleQuery(
    "q47_tfidf_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(graft.ext.Dedup.tokens(col("text"))).as("w"))
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "w").crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("w"))
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select("doc_id", "w", "score", "rnk")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
                 tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, w),
                 dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
                 nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
                 sc AS (SELECT doc_id, tf.w AS w,
                          round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
                        FROM tf JOIN dfq ON dfq.w = tf.w, nd)
            SELECT doc_id, w, score,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS INTEGER) AS rnk
            FROM sc QUALIFY rnk <= 3"""),
  )

  /** Q48 [X]: k-NN join — top-3 candidates for every query vector (ids
    * 0-4 query, the rest candidates); the batch retrieval shape of q20.
    */
  val q48 = OracleQuery(
    "q48_knn_join",
    (s, d) => {
      import graft.ext.Similarity
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoin(emb.filter(col("vec_id") >= 5), "embedding", "vec_id",
        queries, 3)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
                 q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
                 c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
                 s AS (SELECT qid, c.vec_id AS vec_id,
                         round(list_dot_product(v, qv) /
                               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_r
                       FROM c, q)
            SELECT qid, vec_id, cos_r,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS INTEGER) AS rnk
            FROM s QUALIFY rnk <= 3"""),
  )

  /** Q49 [X]: deterministic per-source quota — the 10 smallest-hash docs
    * of each source (reproducible fixed-size downsampling).
    */
  val q49 = OracleQuery(
    "q49_cap_per_source",
    (s, d) =>
      Sampling.capPerStratum(
        Tables.documents(s, d).select("doc_id", "source"),
        "doc_id", "source", 10),
    Some(s"""WITH h AS (SELECT doc_id, source,
                   ${Sampling.hashBucketSql("doc_id", 1000000)} AS hb
                   FROM documents),
                 r AS (SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source ORDER BY hb, doc_id) AS INTEGER) AS rnk
                   FROM h)
            SELECT doc_id, source, rnk FROM r WHERE rnk <= 10"""),
  )

  /** Q50 [X]: benchmark decontamination — corpus docs (id ≥ 10) sharing
    * any distinct word 4-gram with the "benchmark" docs (id < 10).
    */
  val q50 = OracleQuery(
    "q50_decontaminate",
    (s, d) => {
      import graft.ext.Dedup
      val docs = Tables.documents(s, d)
      Dedup.contaminatedIds(
        docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10),
        "doc_id", "text", 4)
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 g AS (SELECT DISTINCT doc_id, g FROM
                       (SELECT doc_id, unnest([array_to_string(t[i:i+3], ' ')
                               FOR i IN generate_series(1, len(t) - 3)]) AS g FROM tok)),
                 b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
            SELECT DISTINCT doc_id FROM g
            WHERE doc_id >= 10 AND g IN (SELECT g FROM b)"""),
  )

  /** Q53: multi-quantile aggregate — exact interpolated p25/p50/p75 per
    * group in one pass (`percentile(col, array(...))`, DuckDB
    * `quantile_cont` twin).
    */
  val q53 = OracleQuery(
    "q53_quantiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .select(col("l_returnflag"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75")),
    Some("""WITH q AS (SELECT l_returnflag,
                   quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS q
                   FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, round(q[1], 6) AS p25, round(q[2], 6) AS p50,
                   round(q[3], 6) AS p75 FROM q"""),
  )

  /** Q54: statistical aggregates — correlation / sample covariance /
    * sample stddev per group (data-profiling staples).
    */
  val q54 = OracleQuery(
    "q54_stats_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("cov_qp"),
          round(stddev_samp(col("l_discount")), 6).as("sd_disc")),
    Some("""SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
                   round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qp,
                   round(stddev_samp(l_discount), 6) AS sd_disc
            FROM lineitem GROUP BY l_returnflag"""),
  )

  /** Q55: one-pass table profile over `part`'s non-float columns (float
    * min/max would hit engine-dependent string formatting).
    */
  val q55 = OracleQuery(
    "q55_profile",
    (s, d) =>
      graft.ops.Profile.profile(Tables.part(s, d),
        Seq("p_partkey", "p_brand", "p_type", "p_size")),
    Some("""SELECT 'p_partkey' AS column_name, CAST(count(p_partkey) AS BIGINT) AS n_nonnull,
                   CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_distinct,
                   CAST(min(p_partkey) AS VARCHAR) AS min_s, CAST(max(p_partkey) AS VARCHAR) AS max_s
            FROM part
            UNION ALL
            SELECT 'p_brand', CAST(count(p_brand) AS BIGINT),
                   CAST(count(DISTINCT p_brand) AS BIGINT),
                   CAST(min(p_brand) AS VARCHAR), CAST(max(p_brand) AS VARCHAR) FROM part
            UNION ALL
            SELECT 'p_type', CAST(count(p_type) AS BIGINT),
                   CAST(count(DISTINCT p_type) AS BIGINT),
                   CAST(min(p_type) AS VARCHAR), CAST(max(p_type) AS VARCHAR) FROM part
            UNION ALL
            SELECT 'p_size', CAST(count(p_size) AS BIGINT),
                   CAST(count(DISTINCT p_size) AS BIGINT),
                   CAST(min(p_size) AS VARCHAR), CAST(max(p_size) AS VARCHAR) FROM part"""),
  )

  /** Q56 [X]: bigram-LM fluency — Σ ln(cnt(prev,w)/cnt(prev·)) over each
    * document's bigram occurrences, with corpus-wide counts (conditional
    * log-prob; the bigram extension of q46's unigram score). Both count
    * tables are vocabulary-sized → broadcast joins back to the bigram
    * stream; the denominator counts prev as a bigram-START so the
    * conditional distribution normalizes exactly.
    */
  val q56 = OracleQuery(
    "q56_bigram_lm",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d).select(col("doc_id"),
        posexplode(graft.ext.Dedup.tokens(col("text"))).as(Seq("pos", "w")))
      val win = Window.partitionBy("doc_id").orderBy("pos")
      val bg = tok.withColumn("p", lag("w", 1).over(win))
        .filter(col("p").isNotNull).select("doc_id", "p", "w")
      val bc = bg.groupBy("p", "w").agg(count(lit(1)).as("cbg"))
      val uc = bg.groupBy("p").agg(count(lit(1)).as("cu"))
      bg.join(broadcast(bc), Seq("p", "w")).join(broadcast(uc), Seq("p"))
        .groupBy("doc_id")
        .agg(round(sum(log(col("cbg").cast("double") / col("cu"))), 6).as("logprob"),
          count(lit(1)).as("n_bigrams"))
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 bg AS (SELECT doc_id, t[i-1] AS p, t[i] AS w FROM tok,
                        UNNEST(generate_series(2, len(t))) AS u(i)),
                 bc AS (SELECT p, w, CAST(count(*) AS BIGINT) AS cbg FROM bg GROUP BY p, w),
                 uc AS (SELECT p, CAST(count(*) AS BIGINT) AS cu FROM bg GROUP BY p)
            SELECT doc_id, round(sum(ln(CAST(cbg AS DOUBLE) / cu)), 6) AS logprob,
                   CAST(count(*) AS BIGINT) AS n_bigrams
            FROM bg JOIN bc USING (p, w) JOIN uc USING (p) GROUP BY doc_id"""),
  )

  /** Q57 [X]: audio-modality chunking (stub decode, real plumbing) —
    * per-media chunk counts and pooled RMS, hash-certified by the
    * HUGEINT mod-2^64 StubCodec mirror (q33 route): DuckDB regenerates
    * the fake PCM stream and recomputes every chunk's RMS exactly.
    */
  val q57 = OracleQuery(
    "q57_audio_chunks",
    (s, d) => {
      import graft.ext.Multimodal
      Multimodal.audioChunks(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), 1024)
        .toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_chunks"), round(avg("rms"), 6).as("avg_rms"))
    },
    Some(graft.queries.StubCodecSql.q57Oracle),
  )

  /** Q120 [X]: leakage-free split — q42's hash split keyed on the q41
    * near-dup CLUSTER id, so a near-dup family never straddles the
    * train/test fence (the eval-contamination fix). Twin: the q41
    * recursive-CTE components + the same portable hash CASE on the label.
    */
  val q120 = OracleQuery(
    "q120_cluster_split",
    (s, d) => DedupCluster.leakageFreeSplit(
      Tables.documents(s, d), "doc_id", "text"),
    Some(s"""$clustersCte
            SELECT doc_id, cluster_id,
                   CASE WHEN ${Sampling.hashBucketSql("cluster_id")} < 80 THEN 'train'
                        WHEN ${Sampling.hashBucketSql("cluster_id")} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM cl"""),
  )

  /** Q121 [X]: RAG chunking — overlapping 32-word windows at stride 16
    * over every document (trailing chunks shorter; every word covered).
    * Pure flatMap shape: no shuffle, runs at scan speed.
    */
  val q121 = OracleQuery(
    "q121_chunk_windows",
    (s, d) => graft.ext.Chunker.chunk(
      Tables.documents(s, d), "doc_id", "text", 32, 16),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr,
                              len(string_split(text, ' ')) AS n
                       FROM documents),
                 st AS (SELECT doc_id, arr, n,
                               UNNEST(generate_series(0, n - 1, 16)) AS s
                        FROM w)
            SELECT doc_id,
                   CAST(s // 16 AS BIGINT) AS chunk_idx,
                   CAST(s AS BIGINT) AS chunk_start,
                   CAST(least(32, n - s) AS BIGINT) AS chunk_words,
                   array_to_string(arr[s + 1 : s + 32], ' ') AS chunk_text
            FROM st"""),
  )

  /** Q122 [X]: chunk-granularity exact corpus dedup with reassembly (the
    * C4/CCNet boilerplate drop): non-overlapping 8-word chunks, corpus-wide
    * first occurrence kept (min (doc_id, chunk_idx)), documents rebuilt
    * from their surviving chunks in order.
    */
  val q122 = OracleQuery(
    "q122_chunk_dedup",
    (s, d) => graft.ext.Chunker.dedupChunks(
      Tables.documents(s, d), "doc_id", "text", 8),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr,
                              len(string_split(text, ' ')) AS n
                       FROM documents),
                 c AS (SELECT doc_id,
                              CAST(s // 8 AS BIGINT) AS chunk_idx,
                              array_to_string(arr[s + 1 : s + 8], ' ') AS chunk_text
                       FROM (SELECT doc_id, arr, n,
                                    UNNEST(generate_series(0, n - 1, 8)) AS s
                             FROM w)),
                 m AS (SELECT doc_id, chunk_idx, chunk_text,
                              row_number() OVER (PARTITION BY chunk_text
                                ORDER BY doc_id, chunk_idx) AS rn
                       FROM c)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                                       ' ' ORDER BY chunk_idx), '') AS dedup_text
            FROM m GROUP BY doc_id"""),
  )

  /** Q123 [X]: temperature-scaled mixture shares per source (share ∝
    * n^0.5) with expected row counts under a 100k budget. Twin follows
    * the same round(9) → DECIMAL(38,9) sum → single double division →
    * round(6) / floor(x+0.5) discipline.
    */
  val q123 = OracleQuery(
    "q123_temperature_mix",
    (s, d) => Sampling.temperatureShares(
      Tables.documents(s, d), "source", 0.5, 100000L),
    Some("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                       FROM documents GROUP BY source),
                 wt AS (SELECT source, n_s,
                               round(pow(CAST(n_s AS DOUBLE), 0.5), 9) AS w
                        FROM c),
                 t AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS tot
                       FROM wt)
            SELECT source, n_s,
                   round(w / tot, 6) AS share,
                   CAST(floor(round(w / tot, 6) * 100000 + 0.5) AS BIGINT) AS expected_n
            FROM wt, t"""),
  )

  /** Q124 [X]: incremental chunk-level dedup — the 10%-ids batch
    * deduplicated against the frozen 90% corpus at 8-word chunk
    * granularity (arrival order wins: ANY corpus occurrence suppresses
    * the batch copy; within the batch, min (id, idx)). The chunk member
    * of the q112/q113/q114/q117 incremental family.
    */
  val q124 = OracleQuery(
    "q124_incremental_chunks",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.Chunker.incrementalDedupChunks(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 8)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr,
                              len(string_split(text, ' ')) AS n
                       FROM documents),
                 c AS (SELECT doc_id,
                              CAST(s // 8 AS BIGINT) AS chunk_idx,
                              array_to_string(arr[s + 1 : s + 8], ' ') AS chunk_text
                       FROM (SELECT doc_id, arr, n,
                                    UNNEST(generate_series(0, n - 1, 8)) AS s
                             FROM w)),
                 seen AS (SELECT DISTINCT chunk_text FROM c WHERE doc_id % 10 != 0),
                 m AS (SELECT doc_id, chunk_idx, chunk_text,
                              chunk_text NOT IN (SELECT chunk_text FROM seen)
                                AND row_number() OVER (PARTITION BY chunk_text
                                      ORDER BY doc_id, chunk_idx) = 1 AS keep
                       FROM c WHERE doc_id % 10 = 0)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   coalesce(string_agg(CASE WHEN keep THEN chunk_text END,
                                       ' ' ORDER BY chunk_idx), '') AS dedup_text
            FROM m GROUP BY doc_id"""),
  )

  /** Q125 [X]: contrastive pair mining — for each anchor (ids 0-4), the
    * 3 nearest same-label candidates (positives) and 2 nearest
    * different-label candidates (hard negatives) among ids ≥ 5; the
    * batch a contrastive embedding trainer consumes (q48's kNN join
    * with the label predicate split).
    */
  val q125 = OracleQuery(
    "q125_contrastive_pairs",
    (s, d) => {
      import graft.ext.Similarity
      val emb = Tables.embeddings(s, d)
      Similarity.contrastivePairs(
        emb.filter(col("vec_id") >= 5), emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "label", kPos = 3, kNeg = 2)
    },
    Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM e WHERE vec_id < 5),
                 c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 5),
                 s AS (SELECT qid, c.vec_id AS vec_id,
                              c.label = ql AS is_pos,
                              round(list_dot_product(v, qv) /
                                    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_r
                       FROM c, q)
            SELECT qid, vec_id, is_pos, cos_r,
                   CAST(row_number() OVER (PARTITION BY qid, is_pos
                          ORDER BY cos_r DESC, vec_id) AS INTEGER) AS rnk
            FROM s QUALIFY rnk <= CASE WHEN is_pos THEN 3 ELSE 2 END"""),
  )

  /** Q126 [X]: MMR diversified re-rank — λ=0.7 over a 50-deep shortlist,
    * k=10, query = vec 0. CERTIFICATE oracle (the q74 route): the run
    * records the selected (id, rank) pairs; the twin recomputes the
    * exact cosine for those ids from the raw table — value correctness
    * hash-checked, greedy-selection semantics pinned by `SimilaritySpec`.
    */
  private object MmrCert { @volatile var sel: Option[Seq[(Long, Int)]] = None }
  val q126 = OracleQuery(
    "q126_mmr_rerank",
    (s, d) => {
      import graft.ext.Similarity
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")))
        .head().getSeq[Double](0).toArray
      Scratch.collectLocal(
        Similarity.mmrRerank(emb.filter(col("vec_id") =!= 0),
          "embedding", "vec_id", qv, shortlist = 50, k = 10, lambda = 0.7),
        rows => MmrCert.sel = Some(rows.map(r => (r.getLong(0), r.getInt(2)))))
    },
    None,
    dynOracle = () => MmrCert.sel.map(sel =>
      s"""WITH sel(vec_id, rnk) AS (VALUES ${
        sel.map { case (id, r) => s"($id, $r)" }.mkString(", ")}),
               e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
          SELECT e.vec_id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_r,
                 CAST(rnk AS INTEGER) AS rnk
          FROM e JOIN sel ON sel.vec_id = e.vec_id, q"""),
  )

  /** Q127 [X]: word-entropy quality signal — per-doc Shannon entropy of
    * the word distribution (information density; spam and repetition
    * score low). One tf shuffle, per-term log on counts (never
    * per-token), sum-then-round(6) as in q46.
    */
  val q127 = OracleQuery(
    "q127_word_entropy",
    (s, d) => TextAnalysis.wordEntropy(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                         FROM documents),
                 tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
                        FROM tok GROUP BY 1, 2),
                 a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                              CAST(count(*) AS BIGINT) AS n_unique,
                              sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
                       FROM tf GROUP BY 1)
            SELECT doc_id, n_tok, n_unique,
                   round(ln(CAST(n_tok AS DOUBLE)) - s / CAST(n_tok AS DOUBLE), 6) AS entropy
            FROM a"""),
  )

  /** Q128 [X]: per-source duplicate-rate dashboard — for every source,
    * the count and share of documents in a non-singleton near-dup
    * cluster (the curation monitor the ingest-gate flags feed). Twin:
    * the q41 component CTE + a cluster-size join.
    */
  val q128 = OracleQuery(
    "q128_dup_rate_by_source",
    (s, d) => DedupCluster.dupRateByGroup(
      Tables.documents(s, d), "doc_id", "text", "source"),
    Some(s"""$clustersCte,
             sz AS (SELECT cluster_id, count(*) AS csz FROM cl GROUP BY 1),
             j AS (SELECT d.source, c.cluster_id, sz.csz
                   FROM documents d
                   JOIN cl c ON c.doc_id = d.doc_id
                   JOIN sz USING (cluster_id))
             SELECT source,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                    round(CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                          CAST(count(*) AS DOUBLE), 6) AS dup_rate
             FROM j GROUP BY source"""),
  )

  /** Q129 [X capstone]: the curated-corpus report — quality rules (q44)
    * → exact dedup (min-id keeper per text) → leakage-free cluster split
    * (q120) → documents and tokens per (split, source); the table a team
    * reviews before a training run. Twin composes the same CTEs.
    */
  val q129 = OracleQuery(
    "q129_curation_report",
    (s, d) => graft.ext.Curation.curatedReport(
      Tables.documents(s, d), "doc_id", "text", "source"),
    Some(s"""$clustersCte,
             t AS (SELECT doc_id, source, text,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                     round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                           CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS uniq_ratio,
                     round(CAST(length(text) AS DOUBLE) /
                           CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS chars_per_tok
                   FROM documents),
             k AS (SELECT doc_id, source, text, n_tok FROM t
                   WHERE NOT (n_tok < 30 OR uniq_ratio < 0.40 OR chars_per_tok > 5.8)),
             dd AS (SELECT doc_id, source, n_tok,
                           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                    FROM k),
             sp AS (SELECT doc_id,
                           CASE WHEN ${Sampling.hashBucketSql("cluster_id")} < 80 THEN 'train'
                                WHEN ${Sampling.hashBucketSql("cluster_id")} < 90 THEN 'val'
                                ELSE 'test' END AS split
                    FROM cl)
             SELECT split, source,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_tok) AS BIGINT) AS n_tokens
             FROM dd JOIN sp USING (doc_id)
             WHERE rn = 1 GROUP BY 1, 2"""),
  )

  /** Q130 [X source]: JSONL corpus round-trip — the LLM interchange
    * format: write the documents as 4 JSONL shards, read them back with
    * an EXPLICIT schema (inference would be a full extra corpus pass at
    * 100 TB), aggregate per language. The q92 collect-and-clean
    * discipline keeps /tmp from accumulating corpus copies.
    */
  val q130 = OracleQuery(
    "q130_jsonl_roundtrip",
    (s, d) => Scratch.withTempDir("graft_jsonl_") { p =>
      val docs = Tables.documents(s, d)
      graft.ops.JsonlCorpus.write(docs, p.toString, 4)
      val agg = graft.ops.JsonlCorpus.read(s, p.toString, docs.schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          max("doc_id").as("max_id"))
      Scratch.collectLocal(agg)
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars,
                   max(doc_id) AS max_id
            FROM documents GROUP BY lang"""),
  )

  /** Q131 [X]: mixture-plan execution — q123's temperature quotas
    * (α=0.5, 1000-doc budget) handed to the dynamic per-stratum quota
    * sampler: the plan decides HOW MANY per source, the portable hash
    * decides WHICH. Twin recomputes shares and ranks identically.
    */
  val q131 = OracleQuery(
    "q131_quota_sample",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val quotas = Sampling
        .temperatureShares(docs, "source", 0.5, 1000L)
        .select(col("source"), col("expected_n"))
      Sampling.quotaSample(docs.select(col("doc_id"), col("source")),
        "doc_id", "source", quotas, "expected_n")
    },
    Some(s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                        FROM documents GROUP BY source),
                  wt AS (SELECT source, n_s,
                                round(pow(CAST(n_s AS DOUBLE), 0.5), 9) AS w
                         FROM c),
                  t AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS tot
                        FROM wt),
                  q AS (SELECT source,
                               CAST(floor(round(w / tot, 6) * 1000 + 0.5) AS BIGINT) AS qn
                        FROM wt, t),
                  h AS (SELECT doc_id, source,
                               ${Sampling.hashBucketSql("doc_id", 1000000)} AS hb
                        FROM documents),
                  r AS (SELECT doc_id, source,
                               CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY hb, doc_id) AS BIGINT) AS rnk
                        FROM h)
             SELECT doc_id, source, rnk
             FROM r JOIN q USING (source) WHERE rnk <= qn"""),
  )

  /** Q132 [X]: BPE merge candidates — the first-round adjacent-character
    * pair counts over the word-frequency table (the relational core of
    * `Bpe.train`; the full greedy loop is spec-pinned in TrainOpsSpec).
    * The rank window runs over the pair-count relation, bounded by
    * alphabet² — tiny by construction.
    */
  val q132 = OracleQuery(
    "q132_bpe_pairs",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Bpe.pairCounts(Bpe.initialVocab(Tables.documents(s, d), "text"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("cnt"), col("s1"), col("s2"))).cast("int"))
        .filter(col("rnk") <= 20)
    },
    Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents),
                 wf AS (SELECT word, CAST(count(*) AS BIGINT) AS f
                        FROM w GROUP BY 1),
                 ch AS (SELECT f, string_split(word, '') AS cs FROM wf
                        WHERE len(word) >= 2),
                 pr AS (SELECT f,
                               unnest([cs[i] FOR i IN generate_series(1, len(cs) - 1)]) AS s1,
                               unnest([cs[i + 1] FOR i IN generate_series(1, len(cs) - 1)]) AS s2
                        FROM ch),
                 pc AS (SELECT s1, s2, CAST(sum(f) AS BIGINT) AS cnt
                        FROM pr GROUP BY 1, 2)
            SELECT s1, s2, cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, s1, s2) AS INTEGER) AS rnk
            FROM pc QUALIFY rnk <= 20"""),
  )

  /** Q134 [X]: split-leakage audit of the NAIVE per-doc hash split (q42)
    * — LSH near-dup candidate pairs per (split, split) cell; the nonzero
    * off-diagonal is the eval contamination the cluster split (q120)
    * eliminates. Twin: the q41 band star joins with UNION dedup + the
    * q42 split CASE.
    */
  val q134 = OracleQuery(
    "q134_leakage_audit",
    (s, d) => DedupCluster.splitLeakageAudit(
      Tables.documents(s, d), "doc_id", "text",
      Sampling.splitAssign(col("doc_id"))),
    Some(s"""WITH sig AS (${ExtQueries.minhashSigSql}),
                  p AS (SELECT a.doc_id AS da, b.doc_id AS db FROM sig a JOIN sig b
                          ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
                        UNION
                        SELECT a.doc_id AS da, b.doc_id AS db FROM sig a JOIN sig b
                          ON a.mh2 = b.mh2 AND a.mh3 = b.mh3 AND a.doc_id < b.doc_id),
                  sp AS (SELECT doc_id,
                                CASE WHEN ${Sampling.hashBucketSql("doc_id")} < 80 THEN 'train'
                                     WHEN ${Sampling.hashBucketSql("doc_id")} < 90 THEN 'val'
                                     ELSE 'test' END AS s
                         FROM documents)
             SELECT least(x.s, y.s) AS split_a, greatest(x.s, y.s) AS split_b,
                    CAST(count(*) AS BIGINT) AS n_pairs
             FROM p JOIN sp x ON x.doc_id = da JOIN sp y ON y.doc_id = db
             GROUP BY 1, 2"""),
  )

  /** Q137 [X]: the LM ingest gate signal — the 10%-of-ids "batch" scored
    * under the bigram LM trained ONCE on the frozen 90% corpus, add-1
    * smoothed over the corpus vocabulary so never-seen bigrams and
    * contexts price at a finite 1/V instead of −∞ (CCNet's
    * perplexity-filter shape; q56 is the self-scored corpus twin).
    * `oov_bigrams` counts the corpus-unseen bigrams the smoothing paid
    * for — the raw novelty signal next to the fluency score.
    */
  val q137 = OracleQuery(
    "q137_lm_ingest_score",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.TextAnalysis.bigramLmScore(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    },
    Some("""WITH ct AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE doc_id % 10 != 0),
                 bt AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE doc_id % 10 = 0),
                 cbgs AS (SELECT t[i-1] AS p, t[i] AS w FROM ct,
                          UNNEST(generate_series(2, len(t))) AS u(i)),
                 cbg AS (SELECT p, w, CAST(count(*) AS BIGINT) AS cbg
                         FROM cbgs GROUP BY p, w),
                 cu AS (SELECT p, CAST(count(*) AS BIGINT) AS cu
                        FROM cbgs GROUP BY p),
                 vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                        FROM (SELECT unnest(t) AS tok FROM ct)),
                 bbg AS (SELECT doc_id, t[i-1] AS p, t[i] AS w FROM bt,
                         UNNEST(generate_series(2, len(t))) AS u(i))
            SELECT doc_id,
                   round(sum(ln(CAST(coalesce(cbg, 0) + 1 AS DOUBLE) /
                                CAST(coalesce(cu, 0) + v AS DOUBLE))), 6) AS logprob,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(CASE WHEN cbg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS oov_bigrams
            FROM bbg LEFT JOIN cbg USING (p, w) LEFT JOIN cu USING (p)
                 CROSS JOIN vv
            GROUP BY doc_id"""),
  )

  /** Q138 [X]: the self-calibrated LM admit gate — q137's scoring with
    * the threshold derived from the CORPUS, not hand-picked: the 10th
    * percentile of the corpus' own per-bigram self-score (a DISCRETE
    * k-th-smallest rank over rounded values — interpolated quantiles
    * would reopen the q110 float-boundary parity surface). A batch doc
    * admits iff its rounded per-bigram fluency reaches what 90% of the
    * corpus itself achieves; length-normalized so the gate isn't a
    * hidden length filter.
    */
  val q138 = OracleQuery(
    "q138_calibrated_lm_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ext.TextAnalysis.calibratedLmGate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        pctNum = 1, pctDen = 10)
    },
    Some("""WITH ct AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE doc_id % 10 != 0),
                 bt AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE doc_id % 10 = 0),
                 cbgs AS (SELECT t[i-1] AS p, t[i] AS w FROM ct,
                          UNNEST(generate_series(2, len(t))) AS u(i)),
                 cbg AS (SELECT p, w, CAST(count(*) AS BIGINT) AS cbg
                         FROM cbgs GROUP BY p, w),
                 cu AS (SELECT p, CAST(count(*) AS BIGINT) AS cu
                        FROM cbgs GROUP BY p),
                 vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                        FROM (SELECT unnest(t) AS tok FROM ct)),
                 sbg AS (SELECT doc_id, t[i-1] AS p, t[i] AS w FROM ct,
                         UNNEST(generate_series(2, len(t))) AS u(i)),
                 sa AS (SELECT doc_id,
                               round(sum(ln(CAST(coalesce(cbg, 0) + 1 AS DOUBLE) /
                                            CAST(coalesce(cu, 0) + v AS DOUBLE))), 6) AS lp,
                               CAST(count(*) AS BIGINT) AS nb
                        FROM sbg LEFT JOIN cbg USING (p, w)
                             LEFT JOIN cu USING (p) CROSS JOIN vv
                        GROUP BY doc_id),
                 saa AS (SELECT round(lp / nb, 6) AS a FROM sa),
                 nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM saa),
                 th AS (SELECT a AS thr FROM
                          (SELECT a, row_number() OVER (ORDER BY a) AS rn
                           FROM saa) z, nn
                        WHERE rn = (n + 9) // 10),
                 bbg AS (SELECT doc_id, t[i-1] AS p, t[i] AS w FROM bt,
                         UNNEST(generate_series(2, len(t))) AS u(i)),
                 ba AS (SELECT doc_id,
                               round(sum(ln(CAST(coalesce(cbg, 0) + 1 AS DOUBLE) /
                                            CAST(coalesce(cu, 0) + v AS DOUBLE))), 6) AS lp,
                               CAST(count(*) AS BIGINT) AS nb,
                               CAST(sum(CASE WHEN cbg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                 AS oov_bigrams
                        FROM bbg LEFT JOIN cbg USING (p, w)
                             LEFT JOIN cu USING (p) CROSS JOIN vv
                        GROUP BY doc_id)
            SELECT doc_id, round(lp / nb, 6) AS lm_avg, oov_bigrams,
                   CAST(round(lp / nb, 6) >= thr AS INTEGER) AS admit
            FROM ba, th"""),
  )

  /** Q140 [X]: GPT-style concat-and-chop sequence packing — the corpus
    * laid end-to-end in the portable-hash shuffle order, chopped every
    * 512 tokens; each doc reports its global token offset and the
    * sequence ids it spans. The twin's single ORDER BY cumsum equals the
    * Spark side's two-phase (bucket totals + local prefix) formulation —
    * the hash match IS the proof the distributed cumsum is exact.
    */
  val q140 = OracleQuery(
    "q140_seq_packing",
    (s, d) => Packing.packSequences(
      Tables.documents(s, d), "doc_id", "text", ctxLen = 512L),
    Some(s"""WITH t AS (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                          ${tokenHashSql("CAST(doc_id AS VARCHAR)")} AS h
                        FROM documents),
                  o AS (SELECT doc_id, n_tokens,
                          CAST(sum(n_tokens) OVER (ORDER BY h % 256, h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens
                            AS tok_offset
                        FROM t)
             SELECT doc_id, n_tokens, tok_offset,
                    tok_offset // 512 AS seq_first,
                    (tok_offset + greatest(n_tokens, 1) - 1) // 512 AS seq_last
             FROM o"""),
  )

  /** Q141 [X]: epoch-weighted mixture materialization — the data-recipe
    * executor: src0 ×2.5, src1 ×0.3, src2 ×1.0, src5 ×1.25, everything
    * else ×0. Fractional epochs decide per doc by a salted portable hash
    * (independent of the split hash); `copy` enumerates the repeats the
    * training loader sees.
    */
  val q141 = OracleQuery(
    "q141_epoch_mix",
    (s, d) => Sampling.epochMix(
      Tables.documents(s, d), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 1.0, "src5" -> 1.25)),
    Some(s"""WITH d AS (SELECT doc_id, source,
                          CASE source WHEN 'src0' THEN 2 WHEN 'src2' THEN 1
                               WHEN 'src5' THEN 1 ELSE 0 END
                          + CASE WHEN ${tokenHashSql(
                              "(CAST(doc_id AS VARCHAR) || '#em')")} % 1000 <
                                 CASE source WHEN 'src0' THEN 500
                                      WHEN 'src1' THEN 300
                                      WHEN 'src5' THEN 250 ELSE 0 END
                            THEN 1 ELSE 0 END AS n
                        FROM documents)
             SELECT doc_id, source,
                    CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
             FROM d WHERE n >= 1"""),
  )

  /** Q142 [X]: decontamination by EXCISION — q50's flag turned into
    * surgery: benchmark 4-gram occurrences in the corpus are located by
    * position, overlapping hits merge into spans (gaps-and-islands), the
    * covered tokens are cut, and every doc reassembles in order — clean
    * text plus an exact removed-token count, untouched docs passing
    * through intact.
    */
  val q142 = OracleQuery(
    "q142_decontaminate_excise",
    (s, d) => {
      import graft.ext.Dedup
      val docs = Tables.documents(s, d)
      Dedup.decontaminateExcise(
        docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10),
        "doc_id", "text", 4)
    },
    Some("""WITH tokb AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 tokr AS (SELECT doc_id, unnest(t) AS w,
                                 generate_subscripts(t, 1) AS p
                          FROM tokb WHERE doc_id >= 10),
                 tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
                         FROM tokr GROUP BY 1),
                 b AS (SELECT DISTINCT g FROM
                       (SELECT unnest([array_to_string(t[i:i+3], ' ')
                               FOR i IN generate_series(1, len(t) - 3)]) AS g
                        FROM tokb WHERE doc_id < 10)),
                 occ0 AS (SELECT doc_id, t,
                                 unnest(generate_series(1, len(t) - 3)) AS i
                          FROM tokb WHERE doc_id >= 10 AND len(t) >= 4),
                 occ AS (SELECT doc_id, i AS pos, i + 3 AS fin FROM occ0
                         WHERE array_to_string(t[i:i+3], ' ') IN (SELECT g FROM b)),
                 isl AS (SELECT doc_id, pos, fin,
                                max(fin) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                                  AS prev_end
                         FROM occ),
                 isl2 AS (SELECT doc_id, pos, fin,
                                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                                     THEN 1 ELSE 0 END)
                                   OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS island
                          FROM isl),
                 sp AS (SELECT doc_id, island, min(pos) AS s, max(fin) AS f
                        FROM isl2 GROUP BY 1, 2),
                 cov AS (SELECT DISTINCT doc_id,
                                unnest(generate_series(s, f)) AS p FROM sp),
                 kept AS (SELECT r.doc_id, r.w, r.p FROM tokr r
                          WHERE NOT EXISTS (SELECT 1 FROM cov c
                            WHERE c.doc_id = r.doc_id AND c.p = r.p)),
                 ag AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
                               CAST(count(*) AS BIGINT) AS n_kept
                        FROM kept GROUP BY 1)
            SELECT t.doc_id, coalesce(ag.clean_text, '') AS clean_text,
                   t.n_tokens,
                   t.n_tokens - coalesce(ag.n_kept, 0) AS n_removed
            FROM tot t LEFT JOIN ag ON ag.doc_id = t.doc_id"""),
  )

  /** Q153: robust outlier profile — per-source exact median, MAD, and
    * k = 3 outlier count over document lengths (`Profile.madOutlierProfile`):
    * the robust sibling of q54's moment statistics (median/MAD survive the
    * very outliers mean/stddev drown in). Integer inputs make every median
    * an exact binary fraction, so the interpolated even-count median and
    * all derived compares are bit-identical across engines.
    */
  val q153 = OracleQuery(
    "q153_mad_outliers",
    (s, d) => graft.ops.Profile.madOutlierProfile(
      Tables.documents(s, d), "source", "n_chars", k = 3.0),
    Some("""WITH med AS (SELECT source, median(CAST(n_chars AS DOUBLE)) AS med
                         FROM documents GROUP BY 1),
                 dev AS (SELECT d.source, med.med,
                                abs(CAST(n_chars AS DOUBLE) - med.med) AS adev
                         FROM documents d JOIN med USING (source)),
                 mad AS (SELECT source, median(adev) AS mad FROM dev GROUP BY 1)
            SELECT dev.source, first(dev.med) AS med, first(mad.mad) AS mad,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) FILTER (WHERE adev > 3.0 * mad.mad) AS BIGINT)
                     AS n_out
            FROM dev JOIN mad ON mad.source = dev.source
            GROUP BY dev.source"""),
  )

  /** Q154: per-source OLS of whitespace-token count on character count
    * (`Profile.groupOls`) — the scaling-law/drift profile: a slope break
    * in tokens-per-char flags a tokenizer or encoding change in one
    * source. All sufficient sums are exact DECIMAL(38,0) (order-free;
    * long products would overflow at corpus scale), doubles enter only in
    * the final division chain, round(6) on both engines.
    */
  val q154 = OracleQuery(
    "q154_group_ols",
    (s, d) => graft.ops.Profile.groupOls(
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tok")),
      "source", "n_chars", "n_tok"),
    Some("""WITH v AS (SELECT source, CAST(n_chars AS DECIMAL(38,0)) AS x,
                         CAST(len(string_split(text, ' ')) AS DECIMAL(38,0)) AS y
                       FROM documents),
                 s AS (SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS n,
                         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                         SUM(x * x) AS sxx, SUM(y * y) AS syy
                       FROM v GROUP BY 1)
            SELECT source, CAST(n AS BIGINT) AS n,
                   CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
                   round(CAST(n * sxy - sx * sy AS DOUBLE) /
                         CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
                   CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
                   round((CAST(sy AS DOUBLE) -
                          (CAST(n * sxy - sx * sy AS DOUBLE) /
                           CAST(n * sxx - sx * sx AS DOUBLE)) *
                          CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                     END AS intercept,
                   round(CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0
                          AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
                         THEN CAST(n * sxy - sx * sy AS DOUBLE) *
                              CAST(n * sxy - sx * sy AS DOUBLE) /
                              (CAST(n * sxx - sx * sx AS DOUBLE) *
                               CAST(n * syy - sy * sy AS DOUBLE)) END, 6)
                     AS r2
            FROM s"""),
  )

  /** Shared twin CTE for q163/q165: the signature-CONTRACTED LSH band
    * graph in canonical u < v form — one min-id representative per
    * distinct 4-minhash signature, band edges between distinct classes
    * (mirrors [[contractedLshEdges]]).
    */
  private val lshPairsCte: String =
    s"""sig AS (${ExtQueries.minhashSigSql}),
        rep AS (SELECT min(doc_id) AS doc_id, mh0, mh1, mh2, mh3
                FROM sig GROUP BY 2, 3, 4, 5),
        p AS (SELECT x.doc_id AS u, y.doc_id AS v FROM rep x JOIN rep y
                ON x.mh0 = y.mh0 AND x.mh1 = y.mh1 AND x.doc_id < y.doc_id
              UNION
              SELECT x.doc_id, y.doc_id FROM rep x JOIN rep y
                ON x.mh2 = y.mh2 AND x.mh3 = y.mh3 AND x.doc_id < y.doc_id)"""

  /** Shared Spark edge source for q163/q165: the LSH band graph AFTER
    * exact-signature contraction — every group of documents sharing all
    * four minhashes (near-certain duplicates) collapses to its min-id
    * representative, and band edges run between DISTINCT classes only.
    * The contraction is the DedupCluster star-contraction discipline
    * applied up front: this corpus carries duplicate groups of thousands
    * of docs, and any pairwise kernel over an uncontracted clique of
    * size g costs Θ(g³) — measured 2·10⁹ triangles at sf0.1 before the
    * contraction, 4k edges with max degree 49 after. At 100 TB the same
    * rule holds: collapse exact/near-exact mass FIRST, run cubic-risk
    * structure kernels on the class graph.
    */
  private def contractedLshEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val sig = graft.ext.Dedup.minHashSignature(
      Tables.documents(s, d), "doc_id", "text")
    val reps = sig.groupBy("mh0", "mh1", "mh2", "mh3")
      .agg(min(col("doc_id")).as("doc_id"))
    graft.ext.Dedup.lshCandidatePairs(reps, "doc_id",
      Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Q163 [X]: triangle counts + local clustering coefficient over the
    * LSH candidate-pair graph (`Graph.triangleStats`, degree-ordered
    * compact-forward enumeration) — the cluster-density audit on top of
    * q19b's edges: high-LCC components are genuine cliques of variants;
    * a low-LCC hub is a chain of borderline matches q41's transitive
    * closure is about to over-merge. The twin enumerates each triangle
    * once in canonical a<b<c order over the same pair graph; the only
    * float is the final 2·tri/deg(deg−1), rounded at 6 from exact
    * integers on both engines.
    */
  val q163 = OracleQuery(
    "q163_triangle_lcc",
    (s, d) => graft.ops.Graph.triangleStats(
      contractedLshEdges(s, d), "doc_a", "doc_b"),
    Some(s"""WITH $lshPairsCte,
              dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
                      (SELECT u AS node FROM p UNION ALL SELECT v FROM p)
                     GROUP BY 1),
              t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM p e1 JOIN p e2 ON e2.u = e1.v AND e2.v > e1.v
                         JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v),
              tn AS (SELECT n.n AS node, CAST(count(*) AS BIGINT) AS n_tri
                     FROM t, unnest([a, b, c]) AS n(n) GROUP BY 1)
         SELECT dg.node, dg.deg,
                coalesce(tn.n_tri, 0) AS n_tri,
                round(CASE WHEN dg.deg >= 2
                      THEN 2.0 * coalesce(tn.n_tri, 0) / (dg.deg * (dg.deg - 1))
                      ELSE 0.0 END, 6) AS lcc
         FROM dg LEFT JOIN tn ON tn.node = dg.node"""),
  )

  /** DuckDB twin of `Graph.kCore`: the peel UNROLLS as `rounds` chained
    * CTE rounds (degree → keep-set → filtered edges), each mirroring one
    * Spark peel round. Rounds past the fixpoint are idempotent (the peel
    * is monotone: once every node clears k, filtering changes nothing),
    * so `rounds` only needs to be ≥ the true peel depth — the spec pins
    * the depth on the oracle corpus far below this margin. Every round
    * CTE is MATERIALIZED: each is referenced three times by its
    * successor, and DuckDB 1.0 inlines by default — 3^rounds expansion
    * re-opens the parquet scan until the process runs out of file
    * handles.
    */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
               (SELECT u AS node FROM r${i - 1} UNION ALL SELECT v FROM r${i - 1})
             GROUP BY 1),
          g$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
          r$i AS MATERIALIZED (SELECT e.u, e.v FROM r${i - 1} e
                  JOIN g$i a ON a.node = e.u JOIN g$i b ON b.node = e.v)"""
    }.mkString(",\n          ")
    s"""WITH $lshPairsCte,
          r0 AS MATERIALIZED (SELECT u, v FROM p),
          $rs
        SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM
          (SELECT u AS node FROM r$rounds UNION ALL SELECT v FROM r$rounds)
        GROUP BY 1"""
  }

  /** Q165 [X]: the 3-CORE of the signature-contracted LSH pair graph
    * ([[contractedLshEdges]] → `Graph.kCore` peel fixpoint) — the
    * dense-kernel complement of q163's density METRIC: q163 scores every
    * class, the k-core EXTRACTS the subgraph where near-duplication is
    * structural (every surviving signature class has ≥ 3 surviving
    * band-collision partners). All integer.
    */
  val q165 = OracleQuery(
    "q165_kcore",
    (s, d) => graft.ops.Graph.kCore(
      contractedLshEdges(s, d), "doc_a", "doc_b", k = 3),
    Some(kCoreSql(k = 3, rounds = 16)),
  )

  /** DuckDB twin of `Graph.labelPropagation`: `rounds` unrolled
    * MATERIALIZED vote/adopt rounds (the kCoreSql inlining lesson), the
    * max-count/min-label choice as a row_number over (c DESC, label) —
    * NOT min(struct(...)), which DuckDB executes pathologically slowly
    * at sf0.1 (the q08 lesson).
    */
  private def lpaSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT e.a AS node, l${i - 1}.label,
               CAST(count(*) AS BIGINT) AS c
             FROM e JOIN l${i - 1} ON l${i - 1}.node = e.b GROUP BY 1, 2),
          l$i AS MATERIALIZED (SELECT node, label FROM
             (SELECT node, label, row_number() OVER (PARTITION BY node
                ORDER BY c DESC, label) AS rn FROM v$i)
             WHERE rn = 1)"""
    }.mkString(",\n          ")
    s"""WITH $lshPairsCte,
          e AS MATERIALIZED (SELECT u AS a, v AS b FROM p
               UNION ALL SELECT v, u FROM p),
          l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM e),
          $rs
        SELECT node, label FROM l$rounds"""
  }

  /** Q166 [X]: density-driven communities — 4 rounds of deterministic
    * synchronous label propagation (`Graph.labelPropagation`) over the
    * signature-contracted LSH graph: the community complement of q41's
    * connectivity clusters (a bridge edge between two dense variant
    * groups does NOT merge them here) and of q163/q165's density
    * diagnostics. All integer; both engines break vote ties by smallest
    * label.
    */
  val q166 = OracleQuery(
    "q166_label_prop",
    (s, d) => graft.ops.Graph.labelPropagation(
      contractedLshEdges(s, d), "doc_a", "doc_b", rounds = 4),
    Some(lpaSql(rounds = 4)),
  )

  /** Q167 [X]: cross-source duplicate-FLOW matrix
    * (`DedupCluster.crossSourceDupMatrix`) — for every source pair, the
    * number of exact-duplicate document pairs spanning them: q128 says
    * WHICH feed floods us with copies, this says FROM WHERE. Counted
    * combinatorially on per-(text, source) multiplicities (the q134
    * discipline) — the corpus carries duplicate groups of thousands,
    * whose Θ(g²) pair sets are never materialized. All integer.
    */
  val q167 = OracleQuery(
    "q167_cross_source_dups",
    (s, d) => DedupCluster.crossSourceDupMatrix(
      Tables.documents(s, d), "text", "source"),
    Some("""WITH c AS (SELECT text, source, CAST(count(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
              p AS (SELECT a.source AS source_a, b.source AS source_b,
                     CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
                          ELSE a.c * b.c END AS n
                   FROM c a JOIN c b
                     ON a.text = b.text AND a.source <= b.source),
              agg AS (SELECT source_a, source_b, CAST(sum(n) AS BIGINT) AS n
                   FROM p GROUP BY 1, 2),
              s AS (SELECT DISTINCT source FROM documents),
              sp AS (SELECT a.source AS source_a, b.source AS source_b
                   FROM s a JOIN s b ON a.source <= b.source)
         SELECT sp.source_a, sp.source_b,
                coalesce(agg.n, 0) AS n_pairs
         FROM sp LEFT JOIN agg USING (source_a, source_b)"""),
  )

  /** Q209 [X]: T5 span-corruption example generation
    * ([[graft.ext.Packing.spanCorrupt]]) — the denoising-objective
    * training pairs: input with `<extra_id_k>` sentinels, target =
    * sentinels + dropped spans. Block-local deterministic spans (md5
    * offset per (doc, block), no overlap by construction) make every
    * choice — span placement, sentinel numbering, both string
    * assemblies — SQL-replayable; the hash match certifies the full
    * example text on both sides.
    */
  val q209 = OracleQuery(
    "q209_span_corrupt",
    (s, d) => graft.ext.Packing.spanCorrupt(
      Tables.documents(s, d), "doc_id", "text"),
    Some(graft.ext.Packing.spanCorruptSql()),
  )

  /** Q210 [X]: fill-in-the-middle transformation
    * ([[graft.ext.Packing.fimTransform]]) — the PSM infilling
    * rearrangement at two md5-derived cut points, a pure per-row
    * codegen projection (no explode, no shuffle). The twin replays the
    * cuts with list slicing; the hash match certifies the full
    * rearranged text and all three segment lengths.
    */
  val q210 = OracleQuery(
    "q210_fim_transform",
    (s, d) => graft.ext.Packing.fimTransform(
      Tables.documents(s, d), "doc_id", "text"),
    Some(graft.ext.Packing.fimOracleSql()),
  )

  /** Q211 [X]: per-window document segments
    * ([[graft.ext.Packing.windowSegments]]) — the attention-mask
    * boundary table for q140-style packed sequences: every (context
    * window, document) overlap with its within-window token span and
    * doc-boundary flags. Pure integer arithmetic; the twin replays the
    * cumulative offsets and the generate_series fan-out.
    */
  val q211 = OracleQuery(
    "q211_window_segments",
    (s, d) => graft.ext.Packing.windowSegments(
      Tables.documents(s, d), "doc_id", "source",
      size(graft.ext.Dedup.tokens(col("text"))), budget = 512L),
    Some(graft.ext.Packing.windowSegmentsSql(
      """d AS (SELECT source AS grp, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents)""", "source", budget = 512L)),
  )

  /** The pack capstones' (q218, q241, q251) Spark side: per-doc token
    * counts (doc_id, …) laid into 512-token windows per source.
    */
  private def packBySource(docs: DataFrame, counts: DataFrame,
      nTok: String): DataFrame =
    Packing.windowSegments(
      docs.select(col("doc_id"), col("source")).join(counts, "doc_id"),
      "doc_id", "source", col(nTok), budget = 512L)

  /** ...and their twin: `ctes` must end in a per-doc `cnt(doc_id, n)`. */
  private def packTwin(ctes: String): String =
    Packing.windowSegmentsSql(
      s"""$ctes,
            d AS (SELECT dd.source AS grp, c.doc_id, c.n
                  FROM cnt c JOIN documents dd USING (doc_id))""",
      "source", budget = 512L)

  /** The twins' token stream: one row per (doc_id, w). */
  private val ToksCte =
    "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w\n" +
      "                  FROM documents)"

  /** Q218 [X capstone]: the BPE-TOKENIZED training-prep chain — the
    * composition a trainer actually runs, in ONE certified plan: learn
    * 16 merges on the corpus ([[graft.ext.Bpe.train]] — the loop q132
    * pins round 1 of and TrainOpsSpec pins in full), ENCODE every
    * document under them ([[graft.ext.Bpe.tokenCounts]]: merges apply
    * once on the distinct-word table, join back aggregated), and cut
    * the packed stream into 512-BPE-token attention windows
    * ([[graft.ext.Packing.windowSegments]] over the ENCODED counts —
    * q211's generator, previously fed only whitespace counts). The twin
    * is a dynOracle certificate: built after the run with the learned
    * merges as literals, it replays the full encode (the two-pass
    * nested-replace chain per merge — `Bpe.train`'s non-overlapping
    * application proof), per-doc counts, and the window fan-out; the
    * hash match certifies the entire trained-tokenizer → packed-window
    * pipeline end-to-end.
    */
  private object BpeCapstone {
    @volatile var merges: Option[Seq[(String, String)]] = None
  }
  val q218 = OracleQuery(
    "q218_bpe_pack_capstone",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ms = Bpe.train(docs, "text", k = 16).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeCapstone.merges = Some(ms)
      packBySource(docs, Bpe.tokenCounts(docs, "doc_id", "text", ms),
        "n_bpe_tokens")
    },
    None,
    dynOracle = () => BpeCapstone.merges.map { ms =>
      val chain = Bpe.mergeChainSql("w", ms)
      packTwin(s"""$ToksCte,
            wds AS (SELECT DISTINCT w FROM toks),
            enc AS MATERIALIZED (SELECT w,
                  len(string_split(trim($chain), ' ')) AS n_sym FROM wds),
            cnt AS (SELECT t.doc_id, CAST(sum(e.n_sym) AS BIGINT) AS n
                  FROM toks t JOIN enc e USING (w) GROUP BY 1)""")
    },
  )

  /** Learned state the unigram-LM certificates re-derive facts from
    * (the [[BpeCapstone]] dynOracle seam): the vocab with EM scores and
    * the corpus max word length (the twin's DP unroll depth), recorded
    * by each query's run. `Registry.oracleSql` stays a `def`, so these
    * are read after the run loop.
    */
  private object UnigramState {
    @volatile var trainVocab: Option[Seq[UnigramLm.Piece]] = None
    @volatile var encodeVocab: Option[(Seq[UnigramLm.Piece], Int)] = None
    @volatile var packVocab: Option[(Seq[UnigramLm.Piece], Int)] = None
  }
  private val UniMaxPieceLen = 4

  /** The corpus max word length: the twins' DP unroll depth. */
  private def maxWordLen(docs: DataFrame): Int =
    Bpe.wordCounts(docs, "text").agg(max(length(col("w")))).head().getInt(0)

  private def uniTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[UnigramLm.Piece], Int) = {
    val docs = Tables.documents(s, d)
    val vocab = UnigramLm.train(docs, "text", vocabSize = 40, rounds = 3,
      maxPieceLen = UniMaxPieceLen)
    (docs, vocab, maxWordLen(docs))
  }

  /** Q239 [X tokenizer]: unigram-LM (SentencePiece) vocabulary induction
    * — EM over all segmentations on the distinct-word table
    * ([[graft.ext.UnigramLm.train]]: seed substrings → 3 EM rounds →
    * prune to 40 keeping single chars → re-estimate). The certificate
    * records the learned (rank, piece) list; the twin recomputes each
    * piece's frequency-weighted positional substring count from
    * `documents` — integer-exact, certifying every returned piece is a
    * real corpus substring with the claimed seed mass and that ranks
    * rode out of the run undisturbed. EM math itself is pinned by
    * `UnigramLmSpec`'s hand-computed forward-backward fixture (the
    * ANN-certificate division of labor: values by oracle, optimality by
    * spec).
    */
  val q239 = OracleQuery(
    "q239_unigram_train",
    (s, d) => {
      val (docs, vocab, _) = uniTrain(s, d)
      UnigramState.trainVocab = Some(vocab)
      import s.implicits._
      val ranks = vocab.zipWithIndex
        .map { case (p, i) => (i + 1, p.piece) }.toDF("rank", "piece")
      ranks.join(
          UnigramLm.seedPieces(Bpe.wordCounts(docs, "text"),
            UniMaxPieceLen), "piece")
        .select(col("rank"), col("piece"), col("cnt").as("pat_cnt"))
    },
    None,
    dynOracle = () => UnigramState.trainVocab.map { vocab =>
      def q(lit: String) = "'" + lit.replace("'", "''") + "'"
      val values = vocab.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${q(p.piece)})" }
        .mkString(", ")
      s"""WITH v(rank, piece) AS (VALUES $values),
            wds AS (SELECT w, CAST(count(*) AS BIGINT) AS f
                    FROM (SELECT unnest(string_split(text, ' ')) AS w
                          FROM documents) GROUP BY 1),
            pos AS (SELECT w, f,
                      unnest(generate_series(1, CAST(length(w) AS BIGINT)))
                        AS i
                    FROM wds)
         SELECT v.rank, v.piece, CAST(sum(p.f) AS BIGINT) AS pat_cnt
         FROM v JOIN pos p
           ON substring(p.w, CAST(p.i AS INTEGER), length(v.piece)) = v.piece
         GROUP BY 1, 2"""
    },
  )

  /** Q240 [X tokenizer]: unigram-LM ENCODE — Viterbi segmentation of
    * every distinct word under the trained vocab, rolled up per doc
    * (n_words, n_chars, n_pieces). The twin RE-RUNS THE VITERBI DP
    * ITSELF in SQL over the recorded vocab literals
    * ([[graft.ext.UnigramLm.viterbiSqlCtes]]): identical float
    * additions, identical pinned tie comparator, one materialized CTE
    * per position — so the hash match certifies the segmentation math,
    * not just bookkeeping (n_chars doubles as the lossless-segmentation
    * invariant Σ|pieces| = |word|).
    */
  val q240 = OracleQuery(
    "q240_unigram_encode",
    (s, d) => {
      val (docs, vocab, maxW) = uniTrain(s, d)
      UnigramState.encodeVocab = Some((vocab, maxW))
      UnigramLm.tokenCounts(docs, "doc_id", "text", vocab, UniMaxPieceLen)
    },
    None,
    dynOracle = () => UnigramState.encodeVocab.map { case (vocab, maxW) =>
      s"""WITH $ToksCte,
            wds AS (SELECT DISTINCT w FROM toks),
            ${UnigramLm.viterbiSqlCtes(vocab, maxW)}
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
                CAST(sum(s2.np) AS BIGINT) AS n_pieces
         FROM toks t JOIN seg s2 USING (w)
         GROUP BY 1"""
    },
  )

  /** Q241 [X tokenizer]: the unigram-LM PACK capstone — q218's
    * trained-tokenizer → budgeted-window chain with the second tokenizer
    * family: train → Viterbi token counts → 512-token window segments
    * per source. The twin composes the full SQL Viterbi with q218's
    * window arithmetic, so one hash match certifies the entire
    * train → encode → pack pipeline for unigram-LM, closing the "BPE
    * only" gap on the training-prep side.
    */
  val q241 = OracleQuery(
    "q241_unigram_pack_capstone",
    (s, d) => {
      val (docs, vocab, maxW) = uniTrain(s, d)
      UnigramState.packVocab = Some((vocab, maxW))
      packBySource(docs, UnigramLm.tokenCounts(docs, "doc_id", "text", vocab,
        UniMaxPieceLen), "n_pieces")
    },
    None,
    dynOracle = () => UnigramState.packVocab.map { case (vocab, maxW) =>
      packTwin(s"""$ToksCte,
            wds AS (SELECT DISTINCT w FROM toks),
            ${UnigramLm.viterbiSqlCtes(vocab, maxW)},
            cnt AS (SELECT t.doc_id, CAST(sum(s2.np) AS BIGINT) AS n
                    FROM toks t JOIN seg s2 USING (w) GROUP BY 1)""")
    },
  )

  /** WordPiece shared state: the trained merges/vocab are MEMOIZED per
    * sf directory (the GramIndex don't-rebuild-per-stage rule — q249,
    * q250 and q251 all start from the same 16-merge train, so one JVM
    * trains once), and the certificate facts each query's twin needs
    * are recorded the [[UnigramState]] way.
    */
  private object WpState {
    val cache = scala.collection.concurrent.TrieMap
      .empty[String, (Seq[(Int, String, String, String, Long)],
        Seq[String], Int)]
    @volatile var trainMerges: Option[Seq[(Int, String)]] = None
    @volatile var encodeVocab: Option[(Seq[String], Int)] = None
    @volatile var packVocab: Option[(Seq[String], Int)] = None
  }

  /** The WordPiece twins' token stream: [[ToksCte]] without empty words. */
  private val WpToksCte =
    """toks AS (SELECT doc_id, w FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents) WHERE w <> '')"""

  private def wpTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(Int, String, String, String, Long)], Seq[String], Int) =
    WpState.cache.getOrElseUpdate(d, {
      val docs = Tables.documents(s, d)
      val merges = WordPiece.train(docs, "text", k = 16).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val vocab = WordPiece.vocabulary(docs, "text",
        merges.map(m => (m._2, m._3, m._4)))
      (merges, vocab, maxWordLen(docs))
    })

  /** Q249 [X tokenizer]: WordPiece vocabulary induction
    * ([[graft.ext.WordPiece.train]] — the Schuster & Nakajima
    * likelihood-ratio merge loop, 16 merges). The certificate records
    * the learned merged pieces; the twin recomputes each piece's
    * POSITION-CLASSED corpus support from `documents` (a `##` piece
    * counts frequency-weighted interior occurrences i ≥ 2, a
    * word-initial piece counts prefix occurrences only) — integer-exact,
    * certifying every merged piece is a real corpus substring in its
    * claimed position class. The merge-rule math itself is spec-pinned
    * (`TrainOpsSpec` hand-computed score sequence).
    */
  val q249 = OracleQuery(
    "q249_wordpiece_train",
    (s, d) => {
      val (merges, _, _) = wpTrain(s, d)
      WpState.trainMerges = Some(merges.map(m => (m._1, m._4)))
      import s.implicits._
      val m = merges.map { case (r, _, _, merged, _) =>
        val raw = merged.stripPrefix(graft.ext.WordPiece.Cont)
        (r, merged, raw, raw.length,
          merged.startsWith(graft.ext.WordPiece.Cont))
      }.toDF("rank", "piece", "raw", "ls", "cont")
      val words = Bpe.wordCounts(Tables.documents(s, d), "text")
        .filter(col("w") =!= "")
      val pos = words.select(col("w"), col("f"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      pos.join(broadcast(m),
          substring(col("w"), col("i"), col("ls")) === col("raw") &&
            (col("cont") && col("i") >= 2 || !col("cont") && col("i") === 1))
        .groupBy("rank", "piece")
        .agg(sum("f").cast("long").as("pat_cnt"))
    },
    None,
    dynOracle = () => WpState.trainMerges.map { merges =>
      def q(lit: String) = "'" + lit.replace("'", "''") + "'"
      val values = merges.map { case (r, p) =>
        val raw = p.stripPrefix(graft.ext.WordPiece.Cont)
        s"($r, ${q(p)}, ${q(raw)}, ${raw.length}, " +
          s"${p.startsWith(graft.ext.WordPiece.Cont)})"
      }.mkString(", ")
      s"""WITH v(rank, piece, raw, ls, cont) AS (VALUES $values),
            wds AS (SELECT w, CAST(count(*) AS BIGINT) AS f
                    FROM (SELECT unnest(string_split(text, ' ')) AS w
                          FROM documents) WHERE w <> '' GROUP BY 1),
            pos AS (SELECT w, f,
                      unnest(generate_series(1, CAST(length(w) AS BIGINT)))
                        AS i
                    FROM wds)
         SELECT v.rank, v.piece, CAST(sum(p.f) AS BIGINT) AS pat_cnt
         FROM v JOIN pos p
           ON substring(p.w, CAST(p.i AS INTEGER), v.ls) = v.raw
          AND ((v.cont AND p.i >= 2) OR ((NOT v.cont) AND p.i = 1))
         GROUP BY 1, 2"""
    },
  )

  /** Q250 [X tokenizer]: WordPiece ENCODE — greedy longest-match-first
    * segmentation of every distinct word under the trained vocab
    * ([[graft.ext.WordPiece.tokenCounts]]), rolled up per doc. The twin
    * RE-RUNS THE GREEDY DP in SQL over the recorded vocab literals
    * ([[graft.ext.WordPiece.greedySqlCtes]]) — one materialized hop CTE
    * per position, longest match picked by the identical `ls DESC`
    * rule, unmatchable words LEFT-JOIN into the one-[UNK] count. All
    * integer: the hash match certifies the segmentation with no float
    * parity question at all.
    */
  val q250 = OracleQuery(
    "q250_wordpiece_encode",
    (s, d) => {
      val (_, vocab, maxW) = wpTrain(s, d)
      WpState.encodeVocab = Some((vocab, maxW))
      WordPiece.tokenCounts(Tables.documents(s, d), "doc_id", "text", vocab)
    },
    None,
    dynOracle = () => WpState.encodeVocab.map { case (vocab, maxW) =>
      s"""WITH $WpToksCte,
            wds AS (SELECT DISTINCT w FROM toks),
            ${WordPiece.greedySqlCtes(vocab, maxW)}
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
                CAST(sum(coalesce(s2.np, 1)) AS BIGINT) AS n_pieces
         FROM toks t LEFT JOIN seg s2 USING (w)
         GROUP BY 1"""
    },
  )

  /** Q251 [X tokenizer]: the WordPiece PACK capstone — train → greedy
    * token counts → 512-token window segments per source (the
    * q218/q241 chain with the third tokenizer family). One hash match
    * certifies train → encode → pack end-to-end for WordPiece.
    */
  val q251 = OracleQuery(
    "q251_wordpiece_pack_capstone",
    (s, d) => {
      val (_, vocab, maxW) = wpTrain(s, d)
      WpState.packVocab = Some((vocab, maxW))
      val docs = Tables.documents(s, d)
      packBySource(docs, WordPiece.tokenCounts(docs, "doc_id", "text", vocab),
        "n_pieces")
    },
    None,
    dynOracle = () => WpState.packVocab.map { case (vocab, maxW) =>
      packTwin(s"""$WpToksCte,
            wds AS (SELECT DISTINCT w FROM toks),
            ${WordPiece.greedySqlCtes(vocab, maxW)},
            cnt AS (SELECT t.doc_id,
                      CAST(sum(coalesce(s2.np, 1)) AS BIGINT) AS n
                    FROM toks t LEFT JOIN seg s2 USING (w) GROUP BY 1)""")
    },
  )

  /** Q264 [X train-prep]: BYTE-LEVEL BPE ([[graft.ext.ByteBpe]] — the
    * GPT-2 tokenizer shape) trained and applied on a corpus AUGMENTED
    * with multi-byte UTF-8 words (per-doc `caf` + 0–2 `é`, and `中a中`
    * or `ñb` by parity), so the byte remap, cross-byte merges, and the
    * no-UNK property all carry real weight. The certificate records
    * the learned merges; the twin re-derives every count with a
    * DIFFERENT remap mechanism — the fixture's non-ASCII characters
    * replaced by their KNOWN GPT-2 byte expansions (`é`→`Ã©`,
    * `ñ`→`Ã±`, `中`→`ä¸Ń`; printable ASCII is identity under
    * bytes_to_unicode) — then replays the two-pass merge chain. A
    * wrong byte mapping, a merge applied out of order, or a broken
    * multi-byte split all break the hash. `ByteBpeSpec` pins the
    * remap bijection and the char-vs-byte divergence by hand.
    */
  private object ByteBpeCert {
    @volatile var merges: Option[Seq[(String, String)]] = None
  }
  private val ByteBpeAugSql =
    "text || ' caf' || repeat('é', CAST(doc_id % 3 AS INT)) || ' ' || " +
      "CASE WHEN doc_id % 2 = 1 THEN '中a中' ELSE 'ñb' END"
  val q264 = OracleQuery(
    "q264_byte_bpe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val aug = docs.select(col("doc_id"),
        concat(col("text"), lit(" caf"),
          call_function("repeat", lit("é"), (col("doc_id") % 3).cast("int")),
          lit(" "),
          when(col("doc_id") % 2 === 1, lit("中a中")).otherwise(lit("ñb")))
          .as("t"))
      val ms = graft.ext.ByteBpe.train(aug, "t", k = 12).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      ByteBpeCert.merges = Some(ms)
      graft.ext.ByteBpe.tokenCounts(aug, "doc_id", "t", ms)
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    },
    None,
    dynOracle = () => ByteBpeCert.merges.map { ms =>
      val remapped = "replace(replace(replace(w, 'é', 'Ã©'), " +
        "'ñ', 'Ã±'), '中', 'ä¸Ń')"
      val chain = Bpe.mergeChainSql(remapped, ms)
      s"""WITH aug AS (SELECT doc_id, $ByteBpeAugSql AS t FROM documents),
            toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w
                     FROM aug),
            wds AS (SELECT DISTINCT w FROM toks),
            enc AS MATERIALIZED (SELECT w,
                  len(string_split(trim($chain), ' ')) AS n_sym FROM wds)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(e.n_sym) AS BIGINT) AS n_bpe_tokens
         FROM toks t JOIN enc e USING (w) GROUP BY 1"""
    },
  )

  /** Q265 [X train-prep]: FIRST-FIT-DECREASING sequence packing
    * ([[graft.ext.Packing.ffdPack]]) — the padding-minimizing,
    * never-split-a-document alternative to q140/q211's concat-and-chop:
    * per-source octet buckets (row_number DIV 8 — deterministic,
    * bounded, the distributed FFD shape), greedy first-fit over
    * length-descending docs into 160-token sequences. The twin UNROLLS
    * the greedy — 8 CTE steps carrying all 8 bin fills as columns
    * ([[graft.ext.Packing.ffdPackSql]], the q240 bounded-DP
    * discipline) — so the hash match certifies the sort order, every
    * first-fit decision, bin open order, and intra-bin offsets, not
    * just aggregate fill. `TrainOpsSpec` pins validity, determinism,
    * and the padding-vs-baseline win.
    */
  val q265 = OracleQuery(
    "q265_ffd_pack",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(graft.ext.Dedup.tokens(col("text"))).cast("long").as("n_tok"))
      val bucketed = base
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy("doc_id")))
        .withColumn("bucket", concat(col("source"), lit("#"),
          expr("CAST((__rn - 1) DIV 8 AS STRING)")))
      graft.ext.Packing.ffdPack(
        bucketed, "doc_id", "bucket", col("n_tok"), budget = 160L)
    },
    Some(graft.ext.Packing.ffdPackSql(
      """items AS (SELECT doc_id,
               source || '#' || CAST((rn - 1) // 8 AS VARCHAR) AS bucket,
               n_tok
             FROM (SELECT doc_id, source,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                     row_number() OVER (PARTITION BY source
                       ORDER BY doc_id) AS rn
                   FROM documents))""",
      budget = 160L, maxItems = 8)),
  )

  val all: Seq[OracleQuery] =
    Seq(q41, q42, q42b, q43, q44, q45, q46, q47, q48, q49, q50,
      q53, q54, q55, q56, q57, q120, q121, q122, q123, q124, q125, q126,
      q127, q128, q129, q130, q131, q132, q134, q137, q138, q140, q141,
      q142, q153, q154, q163, q165, q166, q167, q209, q210, q211, q218,
      q239, q240, q241, q249, q250, q251, q264, q265)
}
