package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval scoring: BM25 over the corpus' own term statistics.
  * The retrieval complement of the TF-IDF keyword surface (q47) — the op a
  * training pipeline runs to mine corpus documents relevant to a query
  * term set (e.g. targeted curation, contamination triage, RAG indexing).
  *
  * Scale shape: the per-document length table is one narrow aggregate of
  * the token table; everything query-dependent is filtered to the query's
  * terms BEFORE any shuffle, so the scored relation is O(matching docs ·
  * query terms), never O(corpus vocabulary). df/N/avgdl are one-row or
  * |query|-row broadcasts. At 100 TB the only wide shuffle is the
  * (doc, term) tf aggregate, which is the minimum any lexical scorer pays;
  * a pre-materialized tf table (inverted index) removes even that.
  *
  * Cross-engine determinism: each term's contribution is rounded then
  * DECIMAL-cast before the per-document sum, so the score is independent
  * of Spark's partial-aggregation split vs the oracle's single pass (the
  * q72 pattern); ranking orders by the rounded score with the id as a
  * total-order tiebreak (the q47 pattern).
  */
object Retrieval {

  /** BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with the Lucene idf `ln(1 + (N−df+0.5)/(df+0.5))`. Only documents
    * containing ≥1 query term appear (standard retrieval semantics).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("w"))
    // Per-document length and its corpus mean: the query-independent stats.
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // Query-dependent: restrict to the query's terms before grouping, so
    // the tf/df aggregates shuffle only matching (doc, term) rows.
    val qtok = tok.filter(col("w").isin(queryTerms: _*))
    val tf = qtok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val contrib = tf
      .join(broadcast(dfreq), "w")
      .join(dl, idCol)
      .crossJoin(broadcast(avgdl)).crossJoin(broadcast(nDocs))
      // Round-then-DECIMAL per term: the subsequent sum is exact, so the
      // engines' different aggregation phase structures cannot diverge.
      .select(col(idCol),
        round(idf * tfNorm, 9).cast("decimal(28,9)").as("c"))
    // Global top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no single-partition window over the full scored relation);
    // the rank column is a window over the k survivors only.
    val top = contrib.groupBy(idCol)
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
    // Unpartitioned window over the k SURVIVORS only (the limit above) —
    // bounded by the query parameter, never the corpus.
    top.withColumn("rnk",
      row_number().over(Window.orderBy(desc("score"), col(idCol))))
  }

  /** Inverted-index build: one posting-list row per surviving term —
    * document frequency, total term frequency, and the first `postingCap`
    * document ids ascending. The materialized form that turns every later
    * [[bm25TopK]] into an index lookup instead of a corpus scan.
    *
    * Scale shape: one (doc, term) shuffle for tf, one term shuffle for the
    * postings — both irreducible, since df and total_tf are counts over
    * EVERY posting row. The cap therefore cannot prune the shuffle (unlike
    * the q14/q49 top-k shape); what it bounds is the per-term ARRAY in the
    * output row, so a stop-word's posting list is k ids, never a
    * corpus-sized array in one aggregation buffer. `minDf` drops the hapax
    * tail, which at corpus scale is most of the vocabulary.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 2L, postingCap: Int = 5): DataFrame = {
    val tf = docs
      .select(col(idCol).as("__id"), explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy("w", "__id").agg(count(lit(1)).as("tf"))
    val capped = tf.withColumn("rn",
      row_number().over(Window.partitionBy("w").orderBy("__id")))
    capped.groupBy("w")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
        sort_array(collect_list(when(col("rn") <= postingCap, col("__id"))))
          .as("postings"))
      .filter(col("df") >= minDf)
  }

  /** Vocabulary id-encoding (the tokenizer's final step): rank the corpus'
    * tokens by (frequency desc, token) into a dense id space of size
    * `vocabSize`, then rewrite each document as its ordered id sequence
    * with out-of-vocabulary tokens as id 0. Output: id column, `ids`
    * array, `n_oov`.
    *
    * Scale shape: the vocabulary is one token-keyed aggregate, then a
    * top-`vocabSize` via orderBy+limit (TakeOrderedAndProject — per-partition
    * heaps, the [[bm25TopK]] shape) so the ranking window only ever sees
    * `vocabSize` rows, never the full distinct-token relation; encoding is
    * the q04 ordered reassembly — posexplode, broadcast-join the
    * dictionary, re-collect sorted by position — so the corpus pays one
    * doc-keyed shuffle and no per-token lambda ever runs interpreted.
    */
  def encodeTokenIds(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val tok = docs.select(col(idCol),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "w")))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(vocabSize)
      // Unpartitioned window over the vocabSize survivors of the limit —
      // bounded by the config constant, never the distinct-token relation
      // (the top-vocabSize itself is TakeOrderedAndProject, per-partition
      // heaps).
      .withColumn("tid",
        row_number().over(Window.orderBy(desc("cnt"), col("w"))).cast("long"))
      .select(col("w"), col("tid"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(idCol)
      .agg(
        transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("tid"), lit(0L)).as("tid")))),
          x => x.getField("tid")).as("ids"),
        sum(when(col("tid").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** FROZEN collection statistics for BM25 serving — the retrieval member
    * of the incremental-ingest family (GramIndex / simhash signatures /
    * segment index / SRP signatures / bigram LM): the full-vocabulary
    * document-frequency table plus the 1-row (n_docs, avgdl) globals,
    * built once from the corpus and checkpointed. `termDf` persists
    * through `IndexStore.writePostings` (termCol = "w") so a later
    * session probes it with partition pruning instead of rebuilding.
    *
    * Scale shape: one (doc, term)-distinct shuffle + one term shuffle —
    * the irreducible index-build cost; everything downstream is O(batch).
    */
  final case class Bm25Stats(termDf: DataFrame, global: DataFrame)

  def bm25Stats(docs: DataFrame, idCol: String, textCol: String): Bm25Stats = {
    val tok = docs.select(col(idCol).as("__id"),
      explode(Dedup.tokens(col(textCol))).as("w"))
    val termDf = tok.distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val dl = tok.groupBy("__id").agg(count(lit(1)).as("dl"))
    val global = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(avg(col("dl")).as("avgdl")))
      .localCheckpoint()
    Bm25Stats(termDf, global)
  }

  /** Score an arriving BATCH of documents for `queryTerms` under FROZEN
    * collection statistics — df/N/avgdl come from [[bm25Stats]]' corpus,
    * tf/dl from the batch document itself: the standard serving
    * approximation (new documents are priced by the index they are about
    * to join; the periodic rebuild re-stats). O(batch): the batch pays one
    * tokenize + two narrow aggregates, the stats side is a |query|-row
    * broadcast. Same per-term round→DECIMAL route and operator
    * association as [[bm25TopK]], so scores compare exactly across
    * engines. Terms absent from the frozen vocabulary take df = 0 (the
    * maximal Lucene idf — a novel term is maximally selective). Only
    * batch docs containing ≥1 query term appear. Output: (idCol, score).
    */
  def scoreBatchBm25(stats: Bm25Stats, batch: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = batch.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("w"))
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val tf = tok.filter(col("w").isin(queryTerms: _*))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = stats.termDf.filter(col("w").isin(queryTerms: _*))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfq), Seq("w"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .join(dl, idCol)
      .crossJoin(broadcast(stats.global))
      .select(col(idCol), round(idf * tfNorm, 9).cast("decimal(28,9)").as("c"))
      .groupBy(idCol)
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
  }

  /** The MaxSim kernel of [[maxSimTopK]] and [[maxSimRoute]]: per (doc,
    * `terms` row) the max exact dot `__m` between the term's affine
    * integer vector and any of the doc's token vectors. `terms` holds
    * `qt` and any key columns; the output keeps them all. The dots are
    * computed once per DISTINCT corpus token against the broadcast terms.
    */
  private def maxTermDots(docs: DataFrame, idCol: String, textCol: String,
      terms: DataFrame): DataFrame = {
    val P = TextHash.P
    def comps(h: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
      TextHash.Seeds.map { case (a, b) => (h * a + b) % P - (P / 2) }
    val keys = terms.columns.toSeq.map(col)
    // docTok feeds BOTH the distinct-token dot table and the probe
    // join — without a cut the documents scan + explode + distinct
    // recomputes twice (the multi-use-subplan rule; same discipline as
    // q86 / Drift.chiSquare).
    val docTok = docs.select(col(idCol),
      explode(Dedup.tokens(col(textCol))).as("w")).distinct()
      .localCheckpoint()
    val tokDot = docTok.select("w").distinct()
      .withColumn("__h", TextHash.tokenHash(col("w")))
      .crossJoin(broadcast(terms
        .withColumn("__qh", TextHash.tokenHash(col("qt")))))
      .select((col("w") +: keys) :+ comps(col("__h")).zip(comps(col("__qh")))
        .map { case (c, q) => c * q }.reduce(_ + _).as("__d"): _*)
    docTok.join(tokDot, "w")
      .groupBy(col(idCol) +: keys: _*)
      .agg(max(col("__d")).as("__m"))
  }

  /** SQL twin of [[maxTermDots]]: the CTEs ending in `pm(doc_id, keys...,
    * qt, m)` over the term rows `terms` (a SELECT of `keys` and `qt`) —
    * same hash, same affine components, same integer dots; `//` for the
    * P/2 floor.
    */
  private def maxTermDotsSql(terms: String, keys: Seq[String]): String = {
    val P = TextHash.P
    val dot = TextHash.Seeds.map { case (a, b) =>
      s"(((th.h * $a + $b) % $P - ${P / 2}) * ((qh.h * $a + $b) % $P - ${P / 2}))"
    }.mkString(" + ")
    val kq = keys :+ "qt"
    s"""dt AS (SELECT DISTINCT doc_id,
                  unnest(string_split(text, ' ')) AS w FROM documents),
             th AS (SELECT w, ${TextHash.tokenHashSql("w")} AS h
                    FROM (SELECT DISTINCT w FROM dt)),
             qh AS (SELECT ${kq.mkString(", ")},
                      ${TextHash.tokenHashSql("qt")} AS h FROM ($terms)),
             dd AS (SELECT th.w, ${kq.map("qh." + _).mkString(", ")}, $dot AS d
                    FROM th, qh),
             pm AS (SELECT dt.doc_id, ${kq.map("dd." + _).mkString(", ")},
                      max(dd.d) AS m
                    FROM dt JOIN dd ON dd.w = dt.w
                    GROUP BY ${(1 to kq.size + 1).mkString(", ")})"""
  }

  /** ColBERT-style MAXSIM late-interaction retrieval (Khattab &
    * Zaharia 2020, SIGIR): score(q, doc) = Σ over query terms of the MAX
    * dot product between that term's vector and any document-token
    * vector — per-term best alignment instead of one pooled document
    * vector, the property that makes late interaction beat single-vector
    * retrieval on multi-topic documents. Token "embeddings" are the
    * deterministic 4-component affine family over the shared md5 token
    * hash (`c_k(h) = (a_k·h + b_k) mod P − P/2`, the [[TextHash.Seeds]]
    * minhash seeds) — EXACT integer vectors, so scores are exact longs
    * on both engines and ranking needs only the doc-id tiebreak.
    * Headroom: |c_k| < P/2 ≈ 5e8 → a 4-dim dot < 1e18; ≤ 8 query terms
    * keeps Σ of maxima inside a long.
    *
    * Scale shape: distinct (doc, token) explode; per-term dots computed
    * once per DISTINCT CORPUS TOKEN against the broadcast term list
    * (vocab-bounded work, all codegen arithmetic — never per-token
    * lambdas); per-(doc, term) max and per-doc sum are two doc-keyed
    * aggregates; row_number ≤ k plans the partial WindowGroupLimit
    * before the exchange. Output (doc_id, maxsim, rnk).
    */
  def maxSimTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 8,
      "maxSimTopK: 1..8 query terms (long headroom)")
    val spark = docs.sparkSession
    import spark.implicits._
    maxTermDots(docs, idCol, textCol, queryTerms.toDF("qt"))
      .groupBy(idCol)
      .agg(sum(col("__m")).as("maxsim"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("maxsim").desc, col(idCol))))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("maxsim"), col("rnk"))
  }

  /** DuckDB twin of [[maxSimTopK]] over [[maxTermDotsSql]]. */
  def maxSimOracleSql(queryTerms: Seq[String], k: Int): String = {
    val termList =
      queryTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH ${maxTermDotsSql(s"SELECT unnest([$termList]) AS qt", Nil)},
             sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS maxsim
                    FROM pm GROUP BY 1)
        SELECT doc_id, maxsim,
               CAST(row_number() OVER (ORDER BY maxsim DESC, doc_id)
                 AS INTEGER) AS rnk
        FROM sc QUALIFY rnk <= $k"""
  }

  /** TOPIC ROUTING by MaxSim: every document is assigned to the
    * best-matching named query (term set) by the [[maxSimTopK]] scoring
    * rule — classification-by-retrieval, the router in front of a
    * topic-sharded corpus or a mixture-of-prompts pipeline. Scores are
    * exact longs (the affine integer token vectors), the winner breaks
    * ties on the query name; output (idCol, topic, score).
    *
    * Scale shape: the dot table is DISTINCT CORPUS TOKENS × the
    * broadcast (topic, term) list — vocab-bounded; per-(doc, topic)
    * max + sum are doc-keyed aggregates; the argmax is a packed-struct
    * max_by per doc (one aggregate, no window). Total query terms ≤ 8
    * across all topics (long headroom, as [[maxSimTopK]]).
    */
  def maxSimRoute(docs: DataFrame, idCol: String, textCol: String,
      topics: Map[String, Seq[String]]): DataFrame = {
    val allTerms = topics.toSeq.flatMap { case (n, ts) => ts.map(n -> _) }
    require(topics.nonEmpty && allTerms.size <= 8,
      "maxSimRoute: 1..8 terms across all topics (long headroom)")
    val spark = docs.sparkSession
    import spark.implicits._
    maxTermDots(docs, idCol, textCol, allTerms.toDF("topic", "qt"))
      .groupBy(col(idCol), col("topic"))
      .agg(sum(col("__m")).as("__s"))
      // argmax per doc: highest score, smallest topic name on ties — a
      // doc-partitioned window over ≤ |topics| rows per doc
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("__s").desc, col("topic"))))
      .filter(col("__r") === 1)
      .select(col(idCol), col("topic"), col("__s").as("score"))
  }

  /** DuckDB twin of [[maxSimRoute]] over [[maxTermDotsSql]]. */
  def maxSimRouteSql(topics: Map[String, Seq[String]]): String = {
    val pairs = topics.toSeq.sortBy(_._1).flatMap { case (n, ts) =>
      ts.map(t => s"('${n.replace("'", "''")}', '${t.replace("'", "''")}')")
    }.mkString(", ")
    s"""WITH ${maxTermDotsSql(s"SELECT * FROM (VALUES $pairs) v(topic, qt)",
                 Seq("topic"))},
             sc AS (SELECT doc_id, topic, CAST(sum(m) AS BIGINT) AS s
                    FROM pm GROUP BY 1, 2),
             rk AS (SELECT doc_id, topic, s,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY s DESC, topic) AS rr
                    FROM sc)
        SELECT doc_id, topic, s AS score FROM rk WHERE rr = 1"""
  }

  /** RANKING-QUALITY metrics for retrieval evaluation — nDCG@k (graded,
    * Järvelin & Kekäläinen 2002), precision@k, and reciprocal rank of
    * the first relevant hit, per system: the offline eval harness every
    * retrieval change ships against. `results` is (system, doc_id, rnk);
    * `qrels` is (doc_id, grade ≥ 0), relevant = grade > 0.
    *
    * Float discipline: each DCG term `g / (ln(r+1)/ln 2)` rounds at 9 →
    * DECIMAL(28,9) → order-free sum (the q87 BM25 route — ln drifts a
    * ulp across engines, 9-dp rounding absorbs it); precision and MRR
    * are exact one-shot divisions of identical integers; nDCG divides
    * two exact decimal-sums once. IDCG ranks the full qrels by
    * (grade desc, id) — `row_number ≤ k` plans the partial
    * WindowGroupLimit, so only k rows shuffle at corpus-sized qrels.
    */
  def rankingMetrics(results: DataFrame, qrels: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dcgTerm(g: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(g.cast("double") / (log(r.cast("double") + 1) / math.log(2.0)), 9)
        .cast("decimal(28,9)")
    val perSys = results.filter(col("rnk") <= k)
      .join(qrels.filter(col("grade") > 0), Seq("doc_id"), "left")
      .select(col("system"), col("rnk"),
        coalesce(col("grade"), lit(0L)).as("g"))
      .groupBy("system")
      .agg(
        sum(when(col("g") > 0, dcgTerm(col("g"), col("rnk")))).as("__dcg"),
        sum(when(col("g") > 0, 1L).otherwise(0L)).as("__nrel"),
        min(when(col("g") > 0, col("rnk"))).as("__fr"))
    val ideal = qrels.filter(col("grade") > 0)
      .withColumn("__ir", row_number().over(
        Window.orderBy(col("grade").desc, col("doc_id"))))
      .filter(col("__ir") <= k)
      .agg(sum(dcgTerm(col("grade"), col("__ir"))).as("__idcg"))
    perSys.crossJoin(broadcast(ideal)).select(
      col("system"),
      graft.syntax.round6z(coalesce(col("__dcg"), lit(0))
        .cast("double") / col("__idcg").cast("double")).as("ndcg"),
      round(col("__nrel").cast("double") / k, 6).as("p_at_k"),
      coalesce(round(lit(1.0) / col("__fr"), 6), lit(0.0)).as("mrr"))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 family:
    * Lavrenko & Croft 2001 relevance models; Abdul-Jaleel et al. 2004):
    * run the seed BM25 query, treat its top `kFb` documents as
    * relevant, mine the `mExp` highest relevance-weighted terms from
    * them — weight(t) = Σ over feedback docs of (tf(t,d)/dl(d)) ·
    * score(d), the relevance-model estimate — and re-score the corpus
    * with seed ∪ expansion terms (seed weight 1, expansion terms their
    * mined weights). The recall move a single literal term list cannot
    * make: documents phrased in the feedback docs' vocabulary surface
    * even when they share no seed term.
    *
    * Scale shape: the (id, token) relation materializes ONCE and serves
    * all four consumers (doc lengths, both scoring passes, the feedback
    * mine — the GramIndex discipline); each scoring pass restricts to
    * the term table BEFORE grouping so tf/df aggregates shuffle only
    * matching rows; the feedback mine touches `kFb` documents' tokens;
    * the expansion rank's global window runs over the feedback docs'
    * vocabulary (kFb docs' distinct terms — bounded by feedback size,
    * never the corpus). Float discipline: every cross-row sum is
    * round(9) → DECIMAL; mined weights round(6) before reuse so the
    * rescore consumes identical doubles on both engines; rankings
    * tiebreak on term / doc id.
    */
  def prfExpandedBm25(docs: DataFrame, idCol: String, textCol: String,
      seedTerms: Seq[String], kFb: Int, mExp: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty && kFb > 0 && mExp > 0 && k > 0,
      "prfExpandedBm25: seedTerms, kFb, mExp, k must all be non-empty/positive")
    // The expansion rank is a GLOBAL window over the feedback docs'
    // vocabulary — bounded by construction ONLY while kFb stays small
    // (RM3 uses 5-20 feedback docs). A caller passing kFb in the
    // thousands would funnel a large vocabulary through one task, so the
    // bound is a loud contract, not a comment (the Sketches.bottomK k
    // discipline).
    require(kFb <= 64,
      s"prfExpandedBm25: kFb=$kFb exceeds 64 — the expansion-term rank is " +
        "a single global window over the feedback docs' vocabulary; large " +
        "feedback sets need a partitioned mining pass")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col(idCol),
      explode(Dedup.tokens(col(textCol))).as("w"))
      .localCheckpoint() // four consumers — materialize the narrow pass once
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
      .localCheckpoint() // three consumers (both scorings + the mine)
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))

    // BM25 over a WEIGHTED term table (w, wt): per-term contribution
    // wt · idf · tfNorm, round(9) → DECIMAL, per-doc sum, round(6).
    def scoreTerms(terms: DataFrame): DataFrame = {
      val tf = tok.join(broadcast(terms), "w")
        .groupBy(col(idCol), col("w"), col("wt"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val tfNorm = col("tf") * (lit(k1) + 1.0) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
      tf.join(broadcast(dfreq), "w")
        .join(dl, idCol)
        .crossJoin(broadcast(avgdl)).crossJoin(broadcast(nDocs))
        .select(col(idCol),
          round(col("wt") * idf * tfNorm, 9).cast("decimal(28,9)").as("c"))
        .groupBy(idCol)
        .agg(round(sum(col("c")).cast("double"), 6).as("score"))
    }

    val seedDf = seedTerms.toDF("w").withColumn("wt", lit(1.0))
    val fb = scoreTerms(seedDf)
      .orderBy(desc("score"), col(idCol)).limit(kFb)
      .localCheckpoint() // the feedback set feeds the mining join
    val expansion = tok
      .join(broadcast(fb), idCol)
      .groupBy(col(idCol), col("w"), col("score"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, idCol)
      .select(col("w"),
        round(col("tf") / col("dl") * col("score"), 9)
          .cast("decimal(28,9)").as("c"))
      .groupBy("w")
      .agg(round(sum(col("c")).cast("double"), 6).as("wt"))
      .filter(!col("w").isin(seedTerms: _*) && length(col("w")) > 2)
      // bounded window: the feedback docs' vocabulary, never the corpus
      .withColumn("__r",
        row_number().over(Window.orderBy(desc("wt"), col("w"))))
      .filter(col("__r") <= mExp)
      .select(col("w"), col("wt"))
    scoreTerms(seedDf.unionByName(expansion))
      .orderBy(desc("score"), col(idCol)).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(desc("score"), col(idCol))))
  }

  /** HARD-NEGATIVE MINING for dense-retriever training (the BM25-
    * negatives recipe of Karpukhin et al. 2020, DPR): for every named
    * query, rank the corpus by BM25 and slice the rank band BELOW the
    * presumed positives — ranks 1..pPos are treated as positives (what
    * a bi-encoder trains to retrieve) and ranks pPos+1..pPos+kNeg are
    * the hard negatives (lexically close enough to fool BM25, labeled
    * non-relevant) — the examples that actually move a contrastive
    * retriever, where random negatives are trivially separable. Output
    * one row per (topic, mined negative): (topic, idCol, score, rnk)
    * with rnk the topic-local BM25 rank.
    *
    * Scale shape: ALL queries score in one plan — tf restricts to the
    * broadcast (topic, term) list before grouping (only matching
    * (doc, topic, term) rows shuffle); df is per (topic, term) over
    * matching docs; the per-topic ranking is `row_number ≤ pPos+kNeg`
    * over a topic-partitioned window, which Spark plans as a partial
    * WindowGroupLimit BEFORE the exchange — only (pPos+kNeg)·topics
    * rows cross the wire, never the scored corpus.
    */
  def hardNegatives(docs: DataFrame, idCol: String, textCol: String,
      topics: Map[String, Seq[String]], pPos: Int, kNeg: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topics.nonEmpty && topics.values.forall(_.nonEmpty) &&
      pPos >= 0 && kNeg > 0,
      "hardNegatives: topics non-empty, pPos >= 0, kNeg > 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(col(idCol),
      explode(Dedup.tokens(col(textCol))).as("w"))
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val terms = topics.toSeq.flatMap { case (t, ws) => ws.map(t -> _) }
      .toDF("topic", "w")
    val tf = tok.join(broadcast(terms), "w")
      .groupBy(col(idCol), col("topic"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("topic", "w").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), Seq("topic", "w"))
      .join(dl, idCol)
      .crossJoin(broadcast(avgdl)).crossJoin(broadcast(nDocs))
      .select(col("topic"), col(idCol),
        round(idf * tfNorm, 9).cast("decimal(28,9)").as("c"))
      .groupBy("topic", idCol)
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("topic").orderBy(desc("score"), col(idCol))))
      .filter(col("rnk") > pPos && col("rnk") <= pPos + kNeg)
      .select(col("topic"), col(idCol), col("score"), col("rnk"))
  }

  /** The corpus side of the BM25 twins ([[hardNegativesSql]],
    * [[prfOracleSql]]): tokens `tok(doc_id, w)`, lengths `dl`, the
    * average length `ad` and the doc count `nd`.
    */
  private val bm25CorpusCtes: String =
    """tok AS MATERIALIZED (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
            dl AS MATERIALIZED (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
              FROM tok GROUP BY doc_id),
            ad AS (SELECT avg(dl) AS avgdl FROM dl),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)"""

  /** DuckDB twin of [[hardNegatives]] — same per-topic scoring and rank
    * band; topics ride a VALUES list (the q200 twin form).
    */
  def hardNegativesSql(topics: Map[String, Seq[String]], pPos: Int,
      kNeg: Int, k1: Double = 1.2, b: Double = 0.75): String = {
    val pairs = topics.toSeq.sortBy(_._1).flatMap { case (t, ws) =>
      ws.map(w => s"('${t.replace("'", "''")}', '${w.replace("'", "''")}')")
    }.mkString(", ")
    s"""WITH $bm25CorpusCtes,
            q AS (SELECT * FROM (VALUES $pairs) v(topic, w)),
            tf AS (SELECT doc_id, q.topic, tok.w,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM tok JOIN q USING (w) GROUP BY 1, 2, 3),
            dfq AS (SELECT topic, w, CAST(count(*) AS BIGINT) AS df
                   FROM tf GROUP BY 1, 2),
            c AS (SELECT tf.topic, doc_id,
                     CAST(round(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                       ((tf * ($k1 + 1.0)) /
                        (tf + $k1 * (1.0 - $b + $b * dl.dl / ad.avgdl))), 9)
                       AS DECIMAL(28,9)) AS c
                   FROM tf JOIN dfq USING (topic, w)
                   JOIN dl USING (doc_id), ad, nd),
            s AS (SELECT topic, doc_id,
                     round(CAST(sum(c) AS DOUBLE), 6) AS score
                   FROM c GROUP BY 1, 2),
            r AS (SELECT topic, doc_id, score,
                     CAST(row_number() OVER (PARTITION BY topic
                       ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
                   FROM s)
       SELECT topic, doc_id, score, rnk
       FROM r WHERE rnk > $pPos AND rnk <= ${pPos + kNeg}"""
  }

  /** DuckDB twin of [[prfExpandedBm25]] — the same three phases with the
    * same round(9)→DECIMAL / round(6) float discipline; multi-referenced
    * CTEs MATERIALIZED (DuckDB inlines them otherwise).
    */
  def prfOracleSql(seedTerms: Seq[String], kFb: Int, mExp: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val termList =
      seedTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    def contrib(tf: String) =
      s"""CAST(round(wt *
            ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (($tf * ($k1 + 1.0)) /
             ($tf + $k1 * (1.0 - $b + $b * dl.dl / ad.avgdl))), 9)
          AS DECIMAL(28,9))"""
    s"""WITH $bm25CorpusCtes,
            tf1 AS (SELECT doc_id, w, 1.0 AS wt,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM tok WHERE w IN ($termList) GROUP BY 1, 2, 3),
            df1 AS (SELECT w, CAST(count(*) AS BIGINT) AS df
                   FROM tf1 GROUP BY 1),
            c1 AS (SELECT doc_id, ${contrib("tf")} AS c
                   FROM tf1 JOIN df1 USING (w) JOIN dl USING (doc_id), ad, nd),
            fb AS MATERIALIZED (
              SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score,
                     row_number() OVER (
                       ORDER BY round(CAST(sum(c) AS DOUBLE), 6) DESC,
                       doc_id) AS r
              FROM c1 GROUP BY doc_id QUALIFY r <= $kFb),
            ftf AS (SELECT fb.doc_id, tok.w, fb.score,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM tok JOIN fb USING (doc_id) GROUP BY 1, 2, 3),
            ewc AS (SELECT w, CAST(round(tf / dl.dl * score, 9)
                     AS DECIMAL(28,9)) AS c
                   FROM ftf JOIN dl USING (doc_id)),
            exp_terms AS MATERIALIZED (
              SELECT w, round(CAST(sum(c) AS DOUBLE), 6) AS wt
              FROM ewc
              WHERE w NOT IN ($termList) AND length(w) > 2
              GROUP BY 1
              QUALIFY row_number() OVER (
                ORDER BY round(CAST(sum(c) AS DOUBLE), 6) DESC, w) <= $mExp),
            terms AS (SELECT w, 1.0 AS wt
                      FROM (SELECT unnest([$termList]) AS w)
                      UNION ALL SELECT w, wt FROM exp_terms),
            tf2 AS (SELECT doc_id, tok.w, t.wt,
                     CAST(count(*) AS BIGINT) AS tf
                   FROM tok JOIN terms t USING (w) GROUP BY 1, 2, 3),
            df2 AS (SELECT w, CAST(count(*) AS BIGINT) AS df
                   FROM tf2 GROUP BY 1),
            c2 AS (SELECT doc_id, ${contrib("tf")} AS c
                   FROM tf2 JOIN df2 USING (w) JOIN dl USING (doc_id), ad, nd)
       SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score,
              CAST(row_number() OVER (
                ORDER BY round(CAST(sum(c) AS DOUBLE), 6) DESC, doc_id)
                AS INTEGER) AS rnk
       FROM c2 GROUP BY doc_id QUALIFY rnk <= $k"""
  }

  /** The DuckDB twin of [[bm25TopK]] (same stats, same rounding route, and
    * the same operator association: idf · (tf·(k1+1) / denom), parenthesized
    * so neither engine re-associates the product before the division —
    * last-ulp double drift at the round-9 boundary is an ordering flip).
    */
  def bm25OracleSql(queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val termList =
      queryTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
             ad AS (SELECT avg(dl) AS avgdl FROM dl),
             nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
             tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
                    FROM tok WHERE w IN ($termList) GROUP BY doc_id, w),
             dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
             c AS (SELECT doc_id,
                     CAST(round(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                       ((tf * ($k1 + 1.0)) /
                        (tf + $k1 * (1.0 - $b + $b * dl.dl / ad.avgdl))), 9)
                       AS DECIMAL(28,9)) AS c
                   FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id), ad, nd)
        SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score,
               CAST(row_number() OVER (ORDER BY round(CAST(sum(c) AS DOUBLE), 6) DESC, doc_id) AS INTEGER) AS rnk
        FROM c GROUP BY doc_id QUALIFY rnk <= $k"""
  }
}
