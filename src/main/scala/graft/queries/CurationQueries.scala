package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Repetition, TextAnalysis}
import graft.ops.Cdc

/** Round-3 curation/analytics additions: Gopher-style repetition metrics,
  * PII-pattern redaction, text normalization, per-label embedding
  * centroids (the k-means E-step shape), snapshot CDC, and the
  * distribution window functions. Each has a DuckDB twin.
  */
object CurationQueries {

  /** Q59 [X]: per-document repetition metrics (token uniqueness + top
    * bigram dominance) — the Gopher boilerplate/spam signals. One explode
    * + doc-keyed aggregates; both aggregates share the doc-id
    * partitioning so the final join adds no exchange.
    */
  val q59 = OracleQuery(
    "q59_repetition",
    (s, d) => Repetition.repetitionMetrics(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
            tk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                          round(CAST(count(DISTINCT w) AS DOUBLE) / count(*), 6) AS uniq_frac
                   FROM t GROUP BY doc_id),
            s AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
            bg AS (SELECT doc_id,
                          unnest([a[i] || ' ' || a[i+1] FOR i IN range(1, len(a))]) AS g
                   FROM s),
            bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
            bga AS (SELECT doc_id,
                           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS top_bigram_frac
                    FROM bgc GROUP BY doc_id)
            SELECT tk.doc_id, n_tok, uniq_frac,
                   coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
            FROM tk LEFT JOIN bga USING (doc_id)"""),
  )

  /** Q60 [X]: PII-style redaction over the events payload — digit runs
    * (ids, zips, phone fragments) collapsed to '#'; emits the redacted
    * text plus how many characters were dropped. Pure per-row codegen'd
    * regexp — shuffle-free at any scale.
    */
  val q60 = OracleQuery(
    "q60_pii_redact",
    (s, d) => {
      val red = TextAnalysis.redact(col("props"), Seq("[0-9]{2,}" -> "#"))
      Tables.events(s, d).select(
        col("event_id"),
        red.as("redacted"),
        (length(col("props")) - length(red)).cast("long").as("n_removed"))
    },
    Some("""SELECT event_id,
                   regexp_replace(props, '[0-9]{2,}', '#', 'g') AS redacted,
                   CAST(length(props) - length(regexp_replace(props, '[0-9]{2,}', '#', 'g')) AS BIGINT) AS n_removed
            FROM events"""),
  )

  /** Q61 [X]: per-label embedding centroid fit — mean vector per label
    * and each member's distance to its own centroid, reduced to a
    * per-label spread. This is one k-means E-step, relationally: explode
    * to (label, dim) cells, average per cell (shuffle keyed by
    * label×dim, never whole vectors), join centroids back, reduce.
    * Floats are cast to double BEFORE averaging on both engines, and
    * every multi-row sum (centroid numerator, squared-distance sum,
    * final spread) goes through DECIMAL(18,12) so Spark's partial
    * aggregation order can't drift from DuckDB's single pass in the
    * last ulp and flip a round-6 boundary (the q72 pattern).
    */
  val q61 = OracleQuery(
    "q61_centroid_dist",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 12)
      val e = Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
      val cent = e.groupBy("label", "pos").agg(
        (sum(col("x").cast(dec)).cast("double") / count(lit(1))).as("c"))
      val d2 = e.join(cent, Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(sum(((col("x") - col("c")) * (col("x") - col("c"))).cast(dec))
          .cast("double").as("d2"))
      d2.groupBy("label").agg(
        count(lit(1)).as("n"),
        round(sum(sqrt(col("d2")).cast(dec)).cast("double") / count(lit(1)), 6)
          .as("avg_dist"))
    },
    Some("""WITH e AS (SELECT vec_id, label,
                   CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS pos
                   FROM embeddings),
            c AS (SELECT label, pos,
                         CAST(sum(CAST(x AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS c
                  FROM e GROUP BY label, pos),
            d AS (SELECT e.vec_id, e.label,
                         CAST(sum(CAST((x - c.c) * (x - c.c) AS DECIMAL(18,12))) AS DOUBLE) AS d2
                  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
                  GROUP BY e.vec_id, e.label)
            SELECT label, CAST(count(*) AS BIGINT) AS n,
                   round(CAST(sum(CAST(sqrt(d2) AS DECIMAL(18,12))) AS DOUBLE) / count(*), 6) AS avg_dist
            FROM d GROUP BY label"""),
  )

  /** Q62 [R-analog]: snapshot CDC — classify each supplier key across two
    * deterministic snapshot views as insert/delete/update/same. The
    * derivation dual of the reference's upsert sink
    * (`update_ways_metadata.py:50-54`): upsert applies a change set,
    * this computes one.
    */
  val q62 = OracleQuery(
    "q62_snapshot_cdc",
    (s, d) => {
      val sup = Tables.supplier(s, d)
      val oldSnap = sup.filter(col("s_suppkey") % 5 =!= 0)
        .select(col("s_suppkey"), col("s_acctbal"))
      val newSnap = sup.filter(col("s_suppkey") % 7 =!= 0)
        .select(col("s_suppkey"),
          when(col("s_suppkey") % 3 === 0, col("s_acctbal") + 100.0)
            .otherwise(col("s_acctbal")).as("s_acctbal"))
      Cdc.snapshotDiff(oldSnap, newSnap, "s_suppkey", Seq("s_acctbal"))
    },
    Some("""WITH o AS (SELECT s_suppkey, s_acctbal FROM supplier WHERE s_suppkey % 5 <> 0),
                 n AS (SELECT s_suppkey,
                              CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
                                   ELSE s_acctbal END AS s_acctbal
                       FROM supplier WHERE s_suppkey % 7 <> 0)
            SELECT coalesce(n.s_suppkey, o.s_suppkey) AS s_suppkey,
                   CASE WHEN o.s_suppkey IS NULL THEN 'insert'
                        WHEN n.s_suppkey IS NULL THEN 'delete'
                        WHEN NOT (o.s_acctbal IS NOT DISTINCT FROM n.s_acctbal) THEN 'update'
                        ELSE 'same' END AS change
            FROM o FULL OUTER JOIN n ON o.s_suppkey = n.s_suppkey"""),
  )

  /** Q63 [X]: distribution window functions — ntile / percent_rank /
    * cume_dist per order priority. The ordering carries the order key as
    * a total-order tiebreak: rank-family results on tied doubles are
    * engine-dependent otherwise (q47/q48 lesson).
    */
  val q63 = OracleQuery(
    "q63_window_dist",
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
    },
    Some("""SELECT o_orderkey, o_orderpriority,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)"""),
  )

  /** Q64 [X]: canonical text normalization (lowercase, strip symbols,
    * squeeze spaces) applied to the events payload — the cleanup stage
    * that runs before hashing/shingling in a dedup pipeline. Per-row
    * codegen'd regexps, shuffle-free.
    */
  val q64 = OracleQuery(
    "q64_normalize",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      TextAnalysis.normalizeText(col("props")).as("norm_props")),
    Some("""SELECT event_id,
                   trim(regexp_replace(regexp_replace(lower(props), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_props
            FROM events"""),
  )

  /** Q65 [X]: top-p (nucleus) vocabulary truncation per language — the
    * smallest prefix of the frequency-sorted vocabulary covering half of
    * all token occurrences. Running-sum window over the per-language
    * vocabulary (small after the groupBy: the window shuffles vocab
    * entries, never the token stream); ordering carries the token itself
    * as tiebreak so equal-frequency prefixes are engine-stable.
    */
  val q65 = OracleQuery(
    "q65_topp_vocab",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(graft.ext.Dedup.tokens(col("text"))).as("w"))
      val freq = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val ord = Window.partitionBy("lang").orderBy(desc("c"), col("w"))
      freq
        .withColumn("cum", sum("c").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("c").over(Window.partitionBy("lang")))
        .filter(col("cum") <= col("tot") * 0.5)
        .select(col("lang"), col("w"), col("c"),
          round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
    },
    Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                 FROM documents),
            f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
                  FROM t GROUP BY lang, w),
            r AS (SELECT lang, w, c,
                         CAST(sum(c) OVER (PARTITION BY lang ORDER BY c DESC, w
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS tot
                  FROM f)
            SELECT lang, w, c, round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share
            FROM r WHERE cum <= tot * 0.5"""),
  )

  /** Q66 [X]: PMI keyword extraction — the 5 tokens most over-represented
    * in each language vs the whole corpus, pmi = ln(c_lw·N / (c_w·c_l)),
    * support ≥ 5. Corpus-stats joins all broadcast (vocab ≪ corpus); the
    * rank runs on the ROUNDED score with the token as tiebreak
    * (cross-engine ln() ulp noise flips near-ties otherwise), and plans a
    * partial WindowGroupLimit before the exchange.
    */
  val q66 = OracleQuery(
    "q66_pmi_keywords",
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(graft.ext.Dedup.tokens(col("text"))).as("w"))
      // One tokenization pass: the marginals (per-token, per-language,
      // grand total) roll up from the (lang, w) vocab table — tiny
      // aggregates — instead of re-exploding the corpus three more times.
      val clw = tok.groupBy("lang", "w").agg(count(lit(1)).as("c_lw"))
      val cw = clw.groupBy("w").agg(sum("c_lw").as("c_w"))
      val cl = clw.groupBy("lang").agg(sum("c_lw").as("c_l"))
      val n = clw.agg(sum("c_lw").as("n_total"))
      val scored = clw
        .join(broadcast(cw), "w")
        .join(broadcast(cl), "lang")
        .crossJoin(broadcast(n))
        .filter(col("c_lw") >= 5)
        .select(col("lang"), col("w"), col("c_lw"),
          round(log((col("c_lw") * col("n_total")).cast("double") /
            (col("c_w") * col("c_l")).cast("double")), 6).as("pmi"))
      val rk = Window.partitionBy("lang").orderBy(desc("pmi"), col("w"))
      scored.withColumn("rnk", row_number().over(rk).cast("long"))
        .filter(col("rnk") <= 5)
    },
    Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                 FROM documents),
            clw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c_lw
                    FROM t GROUP BY lang, w),
            cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM t GROUP BY w),
            cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM t GROUP BY lang),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
            scored AS (SELECT clw.lang, clw.w, c_lw,
                              round(ln(CAST(c_lw * n_total AS DOUBLE) /
                                    CAST(c_w * c_l AS DOUBLE)), 6) AS pmi
                       FROM clw JOIN cw USING (w) JOIN cl USING (lang), n
                       WHERE c_lw >= 5),
            rk AS (SELECT *, CAST(row_number() OVER
                         (PARTITION BY lang ORDER BY pmi DESC, w) AS BIGINT) AS rnk
                   FROM scored)
            SELECT lang, w, c_lw, pmi, rnk FROM rk WHERE rnk <= 5"""),
  )

  /** Q67 [X]: overlapping passage chunking (RAG/window-attention prep):
    * token windows of 32 with stride 24 per document. The chunk index
    * explodes relationally (`posexplode(sequence)` + codegen'd `slice`),
    * so rows scale with chunk count — no per-token lambda.
    */
  val q67 = OracleQuery(
    "q67_passage_chunks",
    (s, d) => {
      val a = graft.ext.Dedup.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), a.as("a"),
          ceil(size(a) / lit(24.0)).cast("long").as("nc"))
        .select(col("doc_id"), col("a"),
          posexplode(sequence(lit(0L), col("nc") - 1)).as(Seq("p", "cid")))
        .select(col("doc_id"), col("cid"),
          array_join(slice(col("a"), (col("cid") * 24 + 1).cast("int"), lit(32)), " ")
            .as("chunk"))
    },
    Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
            c AS (SELECT doc_id, a,
                         unnest(range(0, CAST(ceil(len(a) / 24.0) AS BIGINT))) AS cid
                  FROM s)
            SELECT doc_id, cid,
                   array_to_string(list_slice(a, cid*24 + 1, cid*24 + 32), ' ') AS chunk
            FROM c"""),
  )

  /** Q68 [X]: int8 vector quantization — per-vector symmetric scale
    * (max|x|/127), round-half-up codes, reconstruction MSE. The
    * compression step of a 100 TB vector store (4× smaller + int8 SIMD
    * distance kernels downstream). floor(x/s + 0.5) instead of round():
    * identical IEEE ops on both engines, no dialect rounding-mode drift.
    *
    * Relational formulation (explode → per-vector max → join back →
    * per-vector sum), NOT array higher-order functions: HOFs are
    * interpreted and re-inline the scale aggregate per element — O(d²)
    * interpreted work per vector at corpus scale. The shuffles are keyed
    * by vec_id, so the explode never crosses the wire twice.
    */
  val q68 = OracleQuery(
    "q68_int8_quant",
    (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(graft.ext.Similarity.asDouble(col("embedding")))
          .as(Seq("pos", "x")))
      val sc = e.groupBy("vec_id").agg(
        (greatest(max(abs(col("x"))), lit(1e-12)) / 127.0).as("scale"),
        count(lit(1)).as("d"))
      e.join(sc, "vec_id")
        .select(col("vec_id"), col("scale"), col("d"),
          ((col("x") - floor(col("x") / col("scale") + 0.5) * col("scale")) *
            (col("x") - floor(col("x") / col("scale") + 0.5) * col("scale")))
            .as("t"))
        .groupBy("vec_id")
        .agg(round(first(col("scale")), 6).as("scale_r"),
          round(sum(col("t")) / first(col("d")), 6).as("mse"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
                  FROM e)
            SELECT vec_id, round(scale, 6) AS scale_r,
                   round(list_sum(list_transform(v, x ->
                         (x - floor(x/scale + 0.5)*scale) * (x - floor(x/scale + 0.5)*scale)
                       )) / len(v), 6) AS mse
            FROM s"""),
  )

  /** Q69 [X]: unpivot/melt — wide numeric columns to long (metric, val)
    * rows, the inverse of q37's pivot. Zero-shuffle Expand.
    */
  val q69 = OracleQuery(
    "q69_unpivot",
    (s, d) => Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "metric", "val"),
    Some("""SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
            UNION ALL
            SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part"""),
  )

  /** Q70 [X→J3 analog]: interval-overlap self-join — same-customer order
    * pairs whose variable-length activity windows ([orderdate,
    * orderdate + (key%10)+1 days]) intersect. Spark side runs the
    * cell-decomposed `RangeJoin.intervalOverlap` (hash equi-join on
    * (customer, cell), canonical-cell dedup, no nested loop); the DuckDB
    * twin states the overlap predicate directly.
    */
  val q70 = OracleQuery(
    "q70_interval_overlap",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_custkey").as("cust"), col("o_orderkey").as("oid"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("st"))
        .withColumn("en", col("st") + pmod(col("oid"), lit(10L)) + 1)
      val l = o.select(col("cust"), col("oid").as("o1"),
        col("st").as("s1"), col("en").as("e1"))
      val r = o.select(col("cust"), col("oid").as("o2"),
        col("st").as("s2"), col("en").as("e2"))
      graft.ops.RangeJoin.intervalOverlap(l, r, "s1", "e1", "s2", "e2",
        Seq("cust"), 16L)
        .filter(col("o1") < col("o2"))
        .select(col("cust"), col("o1"), col("o2"))
    },
    Some("""WITH o AS (SELECT o_custkey AS cust, o_orderkey AS oid,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS st,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                     + (o_orderkey % 10) + 1 AS en
                   FROM orders)
            SELECT a.cust, a.oid AS o1, b.oid AS o2
            FROM o a JOIN o b
              ON a.cust = b.cust AND a.oid < b.oid
             AND a.st <= b.en AND b.st <= a.en"""),
  )

  /** Q71 [X]: deterministic weighted (importance) sampling — keep each
    * document with probability equal to its distinct-token ratio, decided
    * by the portable md5-digit hash of its id. The data-mixing primitive:
    * repetitive/boilerplate docs are kept less often, and the decision is
    * reproducible across engines and runs. Pure filter — shuffle-free.
    */
  val q71 = OracleQuery(
    "q71_weighted_sample",
    (s, d) => {
      import graft.ext.TextHash
      val w = TextAnalysis.uniqueTokenRatio(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"),
          (TextHash.tokenHash(col("doc_id").cast("string")).cast("double") /
            1e8).as("u"))
        .filter(col("u") < col("w"))
        .select(col("doc_id"), col("w"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS w,
                   ${graft.ext.TextHash.tokenHashSql("CAST(doc_id AS VARCHAR)")} / 100000000.0 AS u
                   FROM documents)
            SELECT doc_id, w FROM t WHERE u < w"""),
  )

  /** Q72 [skew]: two-phase salted aggregation over lineitem's 3-value
    * return flag (a maximally skewed key: 32 partitions, 3 groups) —
    * result-identical to the direct groupBy. Quantities are summed as
    * DECIMAL so the two-phase partial order can't drift from the oracle's
    * single-phase double sum; the final cast to double is exact-input.
    */
  val q72 = OracleQuery(
    "q72_salted_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("q", col("l_quantity").cast("decimal(18,6)"))
      graft.ops.Salting.saltedAgg(li, "l_returnflag", "l_orderkey", 16,
        Map("sum_qty" -> ("q", "sum"), "n_rows" -> ("q", "count")))
        .select(col("l_returnflag"),
          col("sum_qty").cast("double").as("sum_qty"), col("n_rows"))
    },
    Some("""SELECT l_returnflag,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(count(l_quantity) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag"""),
  )

  /** Q73 [join reduction]: Bloom-filtered join — probe rows that cannot
    * match are dropped before the shuffle (no false negatives, and the
    * join removes false positives), so the result is row-identical to the
    * plain join the twin states. At 100 TB this is the difference between
    * shuffling the fact table and shuffling the ~0.1% that survives.
    */
  val q73 = OracleQuery(
    "q73_bloom_join",
    (s, d) => {
      val build = Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.ops.BloomJoin.bloomFilteredJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber")),
        build, "l_orderkey", expectedKeys = 100000L)
    },
    Some("""SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_totalprice > 400000.0"""),
  )

  /** Q74 [X, certificate]: IVF approximate nearest neighbors — k-means
    * cells, nprobe-cell search. The k-means partitioning is not
    * SQL-portable, so the twin is a CERTIFICATE (built after the run via
    * `dynOracle`): DuckDB independently recomputes the exact cosine for
    * the ids the search returned — a hash match proves every reported
    * (id, distance) is correct against the raw vectors. Top-k optimality
    * (recall) is pinned separately in IvfIndexSpec.
    */
  private val IvfCert = new AnnCert
  val q74 = OracleQuery(
    "q74_ivf_ann",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = IvfCert.queryVec(emb)
      val model = graft.ext.IvfIndex.build(emb, "embedding", "vec_id",
        nlist = 16, maxIter = 5)
      IvfCert.record(graft.ext.IvfIndex.search(model, qv, "embedding",
        "vec_id", nprobe = 4, k = 5))
    },
    None,
    dynOracle = IvfCert.oracle,
  )

  /** Q164 [X]: the FULL Gopher duplicated-n-gram profile
    * (`Repetition.dupNgramProfile`, Rae et al. 2021 Table A1) — per
    * (document, n ∈ {2,3,4,5,6}): the character fraction of the single
    * most frequent n-gram (the 2–4-gram rules) and of all n-grams
    * occurring twice or more (the 5–10-gram rules). Completes q59's
    * teaching-size pair (uniq_frac, top bigram) into the production rule
    * set. One token explode, one window pass for all lead columns, one
    * gram aggregate across every n; fractions are exact-integer ratios
    * rounded at 6 on both engines.
    */
  val q164 = OracleQuery(
    "q164_dup_ngram_profile",
    (s, d) => Repetition.dupNgramProfile(
      Tables.documents(s, d), "doc_id", "text", ns = Seq(2, 3, 4, 5, 6)),
    Some {
      val perN = Seq(2, 3, 4, 5, 6).map { n =>
        s"""SELECT doc_id, doc_len, $n AS n,
               unnest([array_to_string(t[i:i+${n - 1}], ' ')
                       FOR i IN generate_series(1, len(t) - ${n - 1})]) AS g
            FROM tok"""
      }.mkString("\n                UNION ALL\n                ")
      s"""WITH tok AS (SELECT doc_id, len(text) AS doc_len,
                     string_split(text, ' ') AS t FROM documents),
              g AS ($perN),
              c AS (SELECT doc_id, doc_len, n, g,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(len(g) AS BIGINT) AS glen
                   FROM g GROUP BY 1, 2, 3, 4),
              m AS (SELECT doc_id, doc_len, n,
                     max(cnt * 2097152 + glen) AS p,
                     coalesce(sum(CASE WHEN cnt >= 2
                       THEN cnt * glen END), 0) AS dup
                   FROM c GROUP BY 1, 2, 3)
         SELECT doc_id, n,
                round(CAST((p // 2097152) * (p % 2097152) AS DOUBLE)
                      / doc_len, 6) AS top_frac,
                round(CAST(dup AS DOUBLE) / doc_len, 6) AS dup_frac
         FROM m"""
    },
  )

  /** Q173 [X]: Pareto-front document selection
    * (`ops/Profile.paretoFront2D`) — the documents not dominated under
    * (maximize distinct-token count, minimize characters): the
    * multi-criteria "best value per length" skyline a naive formulation
    * writes as an O(n²) NOT EXISTS. The front structure lives on the
    * per-dt aggregate (value-domain-bounded window — the q65 vocab
    * discipline), ties kept on both axes. All integer.
    */
  val q173 = OracleQuery(
    "q173_pareto_front",
    (s, d) => graft.ops.Profile.paretoFront2D(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        size(array_distinct(graft.ext.Dedup.tokens(col("text")))).as("dt")),
      "dt", "n_chars"),
    Some("""WITH s AS (SELECT doc_id, n_chars,
                     CAST(len(list_distinct(string_split(text, ' ')))
                          AS INTEGER) AS dt
                   FROM documents),
              a AS (SELECT dt, min(n_chars) AS m FROM s GROUP BY 1),
              f AS (SELECT dt, m FROM
                     (SELECT dt, m, min(m) OVER (ORDER BY dt DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS hmin FROM a)
                    WHERE hmin IS NULL OR m < hmin)
         SELECT s.doc_id, s.dt, s.n_chars
         FROM s JOIN f ON f.dt = s.dt AND f.m = s.n_chars"""),
  )

  /** Q179 [X]: k-ANONYMITY audit over quasi-identifiers — group the
    * corpus by (lang, source, length decile) and report every
    * equivalence class with its size and an `at_risk` flag (size < 5):
    * the compliance complement of the PII redaction ops (q45/q60) —
    * redaction hides direct identifiers, k-anonymity measures whether
    * the REMAINING attributes still single people out. Length decile by
    * integer division — no float boundary. One aggregate, class count
    * bounded by the attribute-domain product.
    */
  val q179 = OracleQuery(
    "q179_k_anonymity",
    (s, d) => Tables.documents(s, d)
      .groupBy(col("lang"), col("source"),
        expr("n_chars DIV 100").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", (col("n") < 5).cast("int")),
    Some("""SELECT lang, source, n_chars // 100 AS len_bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) < 5 AS INTEGER) AS at_risk
            FROM documents GROUP BY 1, 2, 3"""),
  )

  /** Q180 [X]: TIME-RANGE trailing window — per event, the count and sum
    * of the same user's events in the preceding hour (inclusive), via a
    * RANGE frame on epoch-µs (the event-TIME sibling of the ROWS frames
    * q22/q63 exercise — a rows frame cannot express "the last hour").
    * The sum is order-free exact: DuckDB executes sliding frames with a
    * segment tree (a different float addition order than Spark's
    * running evaluation), so each value enters as the q104 2^-40
    * truncated long and doubles reappear only after the frame sum.
    * Ties on tus are fine — RANGE frames are value-based, so both
    * engines include all tied rows.
    */
  val q180 = OracleQuery(
    "q180_trailing_window",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"),
        (col("value") * 1099511627776.0).cast("long").as("sv"))
      val w = Window.partitionBy("user_id").orderBy("tus")
        .rangeBetween(-3600000000L, 0L)
      e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_hour"),
        round(sum(col("sv")).over(w).cast("double") / 1099511627776.0, 6)
          .as("sum_hour"))
    },
    Some("""WITH e AS (SELECT event_id, user_id,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                     CAST(trunc(value * 1099511627776.0) AS BIGINT) AS sv
                   FROM events)
         SELECT event_id, user_id,
                CAST(count(*) OVER w AS BIGINT) AS n_hour,
                round(CAST(sum(sv) OVER w AS DOUBLE) / 1099511627776.0, 6)
                  AS sum_hour
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""),
  )

  /** Q195 [X]: the weak-label LOGISTIC quality gate
    * (`ext/QualityModel`, the CCNet/GPT-3 learned-filter shape): MLlib
    * logistic regression fit on lang='en' weak labels over exact integer
    * features (token/distinct/char counts), then the corpus scored by
    * ONE broadcast-literal codegen dot — the q172 certificate
    * discipline: the run records the fitted (weights, intercept), the
    * twin re-scores every document independently from the recorded
    * literals in the same left-associated IEEE order, so logit and the
    * strict admit comparison are bit-equal. `round6z` on the reported
    * logit (the signed-zero rule).
    */
  private object LrCert {
    @volatile var m: Option[graft.ext.QualityModel.LrModel] = None
  }
  val q195 = OracleQuery(
    "q195_logistic_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val m = graft.ext.QualityModel.fit(docs, "text",
        col("lang") === "en")
      LrCert.m = Some(m)
      graft.ext.QualityModel.score(docs, "doc_id", "text", m)
    },
    None,
    dynOracle = () => LrCert.m.map { m =>
      val Array(w1, w2, w3) = m.weights
      s"""WITH f AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_distinct,
                 CAST(len(text) AS BIGINT) AS n_chars
               FROM documents),
              l AS (SELECT doc_id,
                 CAST(n_tokens AS DOUBLE) * $w1 +
                 CAST(n_distinct AS DOUBLE) * $w2 +
                 CAST(n_chars AS DOUBLE) * $w3 + ${m.intercept} AS lg
               FROM f)
         SELECT doc_id, round(lg, 6) + 0.0 AS logit,
                CAST(CASE WHEN lg > 0 THEN 1 ELSE 0 END AS INTEGER) AS admit
         FROM l"""
    },
  )

  /** Q220 [X]: vocabulary-growth (Heaps' law) curve per source
    * ([[graft.ext.TextAnalysis.vocabGrowth]], 10 buckets) — token
    * volume and NEW-type counts per equal-count segment of each
    * source's doc stream, cumulated: the V(n) ~ K·n^β curve a
    * tokenizer-vocab planner reads. First-occurrence-bucket =
    * min(bucket) per (source, token) — the relational move that avoids
    * windowed COUNT(DISTINCT) entirely. All integer; the twin replays
    * rank, integer-div bucketing, the min-bucket aggregate, and the
    * cumulative sums.
    */
  val q220 = OracleQuery(
    "q220_vocab_growth",
    (s, d) => TextAnalysis.vocabGrowth(
      Tables.documents(s, d), "doc_id", "text", "source", buckets = 10),
    Some("""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
                  FROM documents GROUP BY 1),
              r AS (SELECT source, doc_id, text,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                   FROM documents),
              b AS (SELECT r.source, r.text,
                     ((rn - 1) * 10) // ns AS bkt
                   FROM r JOIN n USING (source)),
              tok AS (SELECT source, bkt,
                       unnest(string_split(text, ' ')) AS w
                     FROM b),
              fo AS (SELECT source, w, min(bkt) AS bkt
                    FROM tok GROUP BY 1, 2),
              nt AS (SELECT source, bkt, CAST(count(*) AS BIGINT) AS new_types
                    FROM fo GROUP BY 1, 2),
              vol AS (SELECT source, bkt, CAST(count(*) AS BIGINT) AS n_tokens
                    FROM tok GROUP BY 1, 2)
         SELECT vol.source, vol.bkt, vol.n_tokens,
                coalesce(nt.new_types, 0) AS new_types,
                CAST(sum(vol.n_tokens) OVER (PARTITION BY vol.source
                  ORDER BY vol.bkt ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BIGINT) AS cum_tokens,
                CAST(sum(coalesce(nt.new_types, 0)) OVER (PARTITION BY
                  vol.source ORDER BY vol.bkt ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
         FROM vol LEFT JOIN nt ON nt.source = vol.source
           AND nt.bkt = vol.bkt"""),
  )

  /** Q245 [X curation]: PER-HOST DOCUMENT CAP
    * ([[graft.ext.Curation.perHostCap]]) — the crawl-curation primitive
    * (no domain may dominate the mixture): deterministic synthetic URLs
    * with mixed-case hosts and ports (both must normalize away), capped
    * at 5 docs per host by doc id. The window's `row_number ≤ cap` plans
    * a partial WindowGroupLimit before the exchange, so only cap·hosts
    * rows shuffle — asserted by the q14 precedent; the twin replays the
    * host extraction + rank in SQL.
    */
  val q245 = OracleQuery(
    "q245_per_host_cap",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("http://Host"), (col("doc_id") % 37).cast("string"),
          lit(".Test:8080/p/"), col("doc_id").cast("string")).as("url"))
      graft.ext.Curation.perHostCap(docs, "url", "doc_id", cap = 5)
        .select(col("doc_id"),
          graft.ext.Curation.urlHost(col("url")).as("host"))
    },
    Some("""WITH u AS (SELECT doc_id,
                 'http://Host' || CAST(doc_id % 37 AS VARCHAR) ||
                   '.Test:8080/p/' || CAST(doc_id AS VARCHAR) AS url
               FROM documents),
            h AS (SELECT doc_id,
                 lower(regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
               FROM u),
            r AS (SELECT doc_id, host,
                 row_number() OVER (PARTITION BY host ORDER BY doc_id)
                   AS rn
               FROM h)
         SELECT doc_id, host FROM r WHERE rn <= 5"""),
  )

  /** Shared by q247/q248: deterministic MESSY synthetic URLs exercising
    * every [[graft.ext.Curation.canonicalUrl]] rule. Groups of 3
    * consecutive doc ids (g = doc_id / 3) carry three differently-messed
    * renderings of the SAME logical page — scheme/host case, `:80`
    * default port, `%2f` vs `%2F` escapes, `/index.html` vs `/`,
    * shuffled query params with `utm_*`/`gclid` trackers, a fragment —
    * so canonicalization must collapse each group to one form. Every
    * 7th group's third member is non-URL garbage (the passthrough arm).
    */
  private def messyUrl = {
    val v = col("doc_id") % 3
    val g = floor(col("doc_id") / lit(3)).cast("long")
    val h = (g % 23).cast("string")
    val gs = g.cast("string")
    when(v === 2 && g % 7 === 0, concat(lit("not a url "), gs))
      .when(v === 0, concat(lit("http://www.site"), h,
        lit(".example.com/p%2fq/doc"), gs,
        lit("/index.html?b=2&a=1&utm_source=feed")))
      .when(v === 1, concat(lit("HTTP://WWW.Site"), h,
        lit(".EXAMPLE.COM:80/p%2Fq/doc"), gs,
        lit("/?a=1&utm_campaign=x&b=2&gclid=g123#section-2")))
      .otherwise(concat(lit("hTtp://www.site"), h,
        lit(".example.com/p%2fq/doc"), gs, lit("/?b=2&a=1")))
  }

  /** The DuckDB twin of [[messyUrl]] (same CASE arms, `//` integer div
    * ≡ Spark's floor over nonnegative ids).
    */
  private val messyUrlSql =
    """CASE WHEN doc_id % 3 = 2 AND (doc_id // 3) % 7 = 0
            THEN 'not a url ' || CAST(doc_id // 3 AS VARCHAR)
          WHEN doc_id % 3 = 0
            THEN 'http://www.site' || CAST((doc_id // 3) % 23 AS VARCHAR)
              || '.example.com/p%2fq/doc' || CAST(doc_id // 3 AS VARCHAR)
              || '/index.html?b=2&a=1&utm_source=feed'
          WHEN doc_id % 3 = 1
            THEN 'HTTP://WWW.Site' || CAST((doc_id // 3) % 23 AS VARCHAR)
              || '.EXAMPLE.COM:80/p%2Fq/doc' || CAST(doc_id // 3 AS VARCHAR)
              || '/?a=1&utm_campaign=x&b=2&gclid=g123#section-2'
          ELSE 'hTtp://www.site' || CAST((doc_id // 3) % 23 AS VARCHAR)
              || '.example.com/p%2fq/doc' || CAST(doc_id // 3 AS VARCHAR)
              || '/?b=2&a=1' END"""

  /** Q247 [X curation]: URL CANONICALIZATION
    * ([[graft.ext.Curation.canonicalUrl]]) — the normal form URL-level
    * dedup keys on. The twin rebuilds the same messy URLs and replays
    * the whole pinned recipe in SQL ([[graft.ext.Curation.canonicalUrlSql]]):
    * a hash match proves fragment drop, `%xx` case normalization,
    * scheme/host fold, default-port strip, `/index.html` collapse,
    * tracking-param drop, and byte-order param sort all agree
    * byte-for-byte across engines.
    */
  val q247 = OracleQuery(
    "q247_url_canonical",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), messyUrl.as("url"))
      .select(col("doc_id"),
        graft.ext.Curation.canonicalUrl(col("url")).as("canon_url")),
    Some(s"""WITH raw AS (SELECT doc_id, $messyUrlSql AS url
                          FROM documents)
             SELECT doc_id, ${graft.ext.Curation.canonicalUrlSql("url")}
                      AS canon_url
             FROM raw"""),
  )

  /** Q248 [X curation]: EXACT URL-LEVEL DEDUP
    * ([[graft.ext.Curation.urlDedup]]) keyed on the canonical form —
    * each 3-messy-renderings group must collapse to its min-doc_id
    * keeper (garbage rows survive as their own keys). The `row_number
    * = 1` window plans a partial WindowGroupLimit before the exchange
    * (the q245/q14 rule), so one row per canonical URL shuffles.
    */
  val q248 = OracleQuery(
    "q248_url_dedup",
    (s, d) => graft.ext.Curation.urlDedup(
      Tables.documents(s, d).select(col("doc_id"), messyUrl.as("url")),
      "url", "doc_id"),
    Some(s"""WITH raw AS (SELECT doc_id, $messyUrlSql AS url
                          FROM documents),
                c AS (SELECT doc_id, url,
                        ${graft.ext.Curation.canonicalUrlSql("url")} AS cu
                      FROM raw),
                r AS (SELECT doc_id, url,
                        row_number() OVER (PARTITION BY cu ORDER BY doc_id)
                          AS rn
                      FROM c)
             SELECT doc_id, url FROM r WHERE rn = 1"""),
  )

  /** Q252 [X curation]: ISOTONIC CALIBRATION of the logistic gate
    * ([[graft.ext.QualityModel.isotonicBlocks]] — PAV over the bounded
    * distinct-score table, exact long cross-multiplied pooling) plus
    * the per-source reliability report
    * ([[graft.ext.QualityModel.calibratedReliability]]: Brier + ECE
    * with the PAV blocks as bins, every float term 2^-40-truncated so
    * the sums are exact integers in any order — the q104 rule). The
    * certificate records ONLY the fitted weights and the block
    * BOUNDARIES; the twin re-scores every document, RECOMPUTES each
    * block's (n, positives) from raw documents, and re-derives
    * Brier/ECE — so a hash match certifies the pooled rates and both
    * reliability metrics against the corpus, not against the run's own
    * bookkeeping. PAV optimality/monotonicity is spec-pinned
    * (`QualityModelSpec`), the ANN-certificate division of labor.
    */
  private object CalCert {
    @volatile var state: Option[(graft.ext.QualityModel.LrModel,
      Seq[graft.ext.QualityModel.CalBlock])] = None
  }
  val q252 = OracleQuery(
    "q252_isotonic_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val m = graft.ext.QualityModel.fit(docs, "text",
        col("lang") === "en")
      val scored = graft.ext.QualityModel.score(docs, "doc_id", "text", m)
        .join(docs.select(col("doc_id"), col("source"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
        .localCheckpoint() // feeds the PAV collect AND the report
      val blocks = graft.ext.QualityModel.isotonicBlocks(
        scored, "logit", col("y"))
      CalCert.state = Some((m, blocks))
      graft.ext.QualityModel.calibratedReliability(
        scored, "source", "logit", col("y"), blocks)
    },
    None,
    dynOracle = () => CalCert.state.map { case (m, blocks) =>
      val Array(w1, w2, w3) = m.weights
      def dl(x: Double) = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
      // Same total-binning rule as calibratedReliability: block i owns
      // [lo_i, lo_{i+1}), first lo = -inf, last hi = +inf.
      val values = blocks.zipWithIndex.map { case (b, i) =>
        val lo = if (i == 0) Double.NegativeInfinity else b.lo
        val hi = if (i == blocks.length - 1) Double.PositiveInfinity
          else blocks(i + 1).lo
        s"($i, ${dl(lo)}, ${dl(hi)})"
      }.mkString(", ")
      s"""WITH f AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_distinct,
                 CAST(len(text) AS BIGINT) AS n_chars
               FROM documents),
            l AS (SELECT doc_id,
                 CAST(n_tokens AS DOUBLE) * $w1 +
                 CAST(n_distinct AS DOUBLE) * $w2 +
                 CAST(n_chars AS DOUBLE) * $w3 + ${m.intercept} AS lg
               FROM f),
            sc AS (SELECT d.doc_id, d.source,
                     CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                     round(l.lg, 6) + 0.0 AS s
                   FROM l JOIN documents d USING (doc_id)),
            vb(bid, lo, hi) AS (VALUES $values),
            b AS (SELECT vb.bid, CAST(count(*) AS BIGINT) AS bn,
                    CAST(sum(sc.y) AS BIGINT) AS bnp
                  FROM sc JOIN vb ON sc.s >= vb.lo
                    AND (sc.s < vb.hi OR vb.hi = CAST('Infinity' AS DOUBLE))
                  GROUP BY 1),
            r AS (SELECT sc.source, sc.y, vb.bid,
                    CAST(b.bnp AS DOUBLE) / CAST(b.bn AS DOUBLE) AS p
                  FROM sc JOIN vb ON sc.s >= vb.lo
                    AND (sc.s < vb.hi OR vb.hi = CAST('Infinity' AS DOUBLE))
                       JOIN b ON b.bid = vb.bid),
            br AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     sum(CAST(floor((p - CAST(y AS DOUBLE)) *
                       (p - CAST(y AS DOUBLE)) * 1099511627776.0)
                       AS BIGINT)) AS ts
                   FROM r GROUP BY 1),
            eg AS (SELECT source, bid, p,
                     CAST(count(*) AS BIGINT) AS nbs,
                     CAST(sum(y) AS BIGINT) AS npbs
                   FROM r GROUP BY 1, 2, 3),
            en AS (SELECT source, p, nbs, npbs,
                     CAST(sum(nbs) OVER (PARTITION BY source) AS BIGINT)
                       AS nsrc
                   FROM eg),
            ec AS (SELECT source,
                     sum(CAST(floor(abs(p -
                       CAST(npbs AS DOUBLE) / CAST(nbs AS DOUBLE)) *
                       (CAST(nbs AS DOUBLE) / CAST(nsrc AS DOUBLE)) *
                       1099511627776.0) AS BIGINT)) AS ts
                   FROM en GROUP BY 1)
         SELECT br.source, br.n_docs,
                round(CAST(br.ts AS DOUBLE) / CAST(br.n_docs AS DOUBLE)
                  / 1099511627776.0, 6) + 0.0 AS brier,
                round(CAST(ec.ts AS DOUBLE) / 1099511627776.0, 6) + 0.0
                  AS ece
         FROM br JOIN ec USING (source)"""
    },
  )

  /** Q255 [X]: dictionary tagging — the Aho-Corasick blocklist /
    * topic-lexicon scan ([[graft.ext.Tagger]]): ONE automaton pass per
    * doc for the whole dictionary, leftmost-non-overlapping counts per
    * pattern. The dictionary is overlap-adversarial on purpose (prefix
    * family ta/table/able, pattern-inside-pattern, a multi-word entry
    * with a shared boundary). The twin counts by the replace
    * length-diff — a DIFFERENT algorithm with provably identical
    * semantics (greedy left-to-right non-overlap), so the cross-engine
    * hash match pins the automaton's skip/fail behavior, not just the
    * happy path. `TaggerSpec` pins automaton ≡ indexOf-loop ≡ relational
    * scan engine-internally.
    */
  private val TagDict = Seq("a", "ta", "able", "a a", "row", "par")
  val q255 = OracleQuery(
    "q255_dictionary_tags",
    (s, d) => graft.ext.Tagger.tagCountsAuto(
      Tables.documents(s, d), "doc_id", "text", TagDict),
    Some(graft.ext.Tagger.tagCountsSql(
      "documents", "doc_id", "text", TagDict)),
  )

  /** Q258 [X]: BLOOM-FILTER frontier membership
    * ([[graft.ext.Bloom]]) — the "have we crawled this URL?" structure:
    * the crawled cohort's URLs (doc_id % 3 ≠ 0 — coprime with the
    * source modulus) build the 2^18-bit filter, then EVERY doc's URL
    * probes it. The twin recomputes the whole filter in SQL — same
    * double-hashed positions off the portable 63-bit hash, same 63-bit
    * words via bit_or over the literal mask table — so the hash match
    * certifies build AND probe bit-for-bit, including the false
    * positives (whatever they are, both engines must agree on them).
    * No-false-negative law: every crawled URL must come back
    * maybe_present (spec-pinned too).
    */
  val q258 = OracleQuery(
    "q258_bloom_frontier",
    (s, d) => {
      val p = graft.ext.Bloom.Params()
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 97).cast("string"),
          lit(".test/p/"), col("doc_id").cast("string")).as("url"))
      val words = graft.ext.Bloom.build(
        urls.filter(col("doc_id") % 3 =!= 0), "url", p)
      graft.ext.Bloom.probe(urls, "url", "doc_id", words, p)
        .select(col("doc_id"), col("maybe_present"),
          (col("doc_id") % 3 =!= 0).as("present"))
    },
    Some {
      val p = graft.ext.Bloom.Params()
      s"""WITH __keys AS (SELECT doc_id,
                 'http://h' || CAST(doc_id % 97 AS VARCHAR) || '.test/p/' ||
                   CAST(doc_id AS VARCHAR) AS url
               FROM documents),
          pos AS (${graft.ext.Bloom.posSql("url", p)}),
          words AS (SELECT w, bit_or(mask) AS bits
                    FROM pos JOIN ${graft.ext.Bloom.maskValuesSql}
                      USING (bit)
                    WHERE doc_id % 3 <> 0 GROUP BY w),
          chk AS (SELECT pos.doc_id,
                    min(CASE WHEN (COALESCE(words.bits, 0) & mask.mask) <> 0
                        THEN 1 ELSE 0 END) AS hit
                  FROM pos LEFT JOIN words USING (w)
                    JOIN ${graft.ext.Bloom.maskValuesSql} USING (bit)
                  GROUP BY pos.doc_id)
       SELECT doc_id, hit = 1 AS maybe_present,
              doc_id % 3 <> 0 AS present
       FROM chk"""
    },
  )

  /** Q259 [X]: ROBOTS.TXT GATE ([[graft.ext.Robots]]) — RFC 9309
    * end-to-end: 12 hosts carry builder-authored robots BODIES (4
    * classes: plain `*` group with a `$`-anchored Allow and a `*`
    * wildcard; a graftbot-specific group that must ISOLATE from the
    * `*` group; an empty file; a stacked-UA group with a mid-path
    * wildcard — plus comments, mixed case, a Sitemap line), parsed by
    * the REAL parser into the rule table, then every doc's URL gated by
    * wildcard longest-match. The twin replays the match over the
    * VALUES rule table the parser MUST produce — a parse bug, a
    * mistranslated wildcard, or a broken tie rule all break the hash.
    * `RobotsSpec` pins the parse and the gate corner cases by hand.
    */
  val q259 = OracleQuery(
    "q259_robots_gate",
    (s, d) => {
      import s.implicits._
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 12).cast("string")).as("host"),
        element_at(array(lit("/private/ok"), lit("/private/secret"),
          lit("/private/graft1"), lit("/tmpfile"), lit("/public/page"),
          lit("/docs/a/private9")),
          (col("doc_id") % 6).cast("int") + 1).as("path"))
      val hosts = (0 until 12).map { hid =>
        val content = hid % 4 match {
          case 0 => "# host class 0\nUser-Agent: *\nDisallow: /private\n" +
            "Allow: /private/ok$\ndisallow: /tmp*\n"
          case 1 => "User-agent: *\nDisallow: /\n\n" +
            "User-agent: graftbot\nAllow: /private/graft*\nDisallow: /\n"
          case 2 => "# nothing to see\n"
          case _ => "User-agent: otherbot\nUser-agent: *\n" +
            "Disallow: /docs*private\nAllow: /docs\n" +
            "Sitemap: http://example.test/map\n"
        }
        (s"h$hid", content)
      }.toDF("host", "content")
      val rules = graft.ext.Robots.ruleTable(hosts, "host", "content",
        "GraftBot")
      graft.ext.Robots.allowed(urls, "doc_id", "host", "path", rules)
    },
    Some("""WITH u AS (SELECT doc_id,
                   'h' || CAST(doc_id % 12 AS VARCHAR) AS host,
                   (doc_id % 12) % 4 AS hclass,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN '/private/ok' WHEN 1 THEN '/private/secret'
                     WHEN 2 THEN '/private/graft1' WHEN 3 THEN '/tmpfile'
                     WHEN 4 THEN '/public/page'
                     ELSE '/docs/a/private9' END AS path
                 FROM documents),
            r AS (SELECT * FROM (VALUES
                    (0, false, '/private', '/private%', 8),
                    (0, true,  '/private/ok$', '/private/ok', 12),
                    (0, false, '/tmp*', '/tmp%', 5),
                    (1, true,  '/private/graft*', '/private/graft%', 15),
                    (1, false, '/', '/%', 1),
                    (3, false, '/docs*private', '/docs%private%', 13),
                    (3, true,  '/docs', '/docs%', 5)
                  ) v(hclass, allow, raw, pat, plen)),
            c AS (SELECT u.doc_id, r.allow,
                    row_number() OVER (PARTITION BY u.doc_id
                      ORDER BY r.plen DESC, r.allow DESC, r.raw ASC) AS rk
                  FROM u JOIN r ON u.hclass = r.hclass
                                AND u.path LIKE r.pat)
         SELECT u.doc_id, u.host, u.path,
                COALESCE(c.allow, true) AS allowed
         FROM u LEFT JOIN (SELECT doc_id, allow FROM c WHERE rk = 1) c
           USING (doc_id)"""),
  )

  /** Q261 [X]: CRAWL-DOOR CAPSTONE — the round-15 gates composed in
    * production order over one URL stream: (1) robots.txt permission
    * (q259's rule classes, longest-match through the REAL parser),
    * (2) frontier NOVELTY (q258's Bloom filter built from the
    * already-crawled cohort — crawled docs probe their own URL and come
    * back seen), (3) payload MIME sniff through the real container
    * writers (q256 — only `text/plain` enters the text pipeline), and
    * (4) the per-host politeness cap (q245's partial-WindowGroupLimit
    * row_number) applied to survivors of 1–3. Every stage's verdict is
    * a column, so the output is the reviewed-before-crawl audit table.
    * The twin composes the four stages' own twin forms — any drift in
    * any stage, or in their ORDER (the cap counts only 1–3 survivors),
    * breaks the hash.
    */
  val q261 = OracleQuery(
    "q261_crawl_door",
    (s, d) => {
      import s.implicits._
      val p = graft.ext.Bloom.Params()
      val base = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 12).cast("string")).as("host"),
        concat(element_at(array(lit("/private/ok"), lit("/private/secret"),
          lit("/private/graft1"), lit("/tmpfile"), lit("/public/page"),
          lit("/docs/a/private9")), (col("doc_id") % 6).cast("int") + 1),
          lit("/"), col("doc_id").cast("string")).as("path"))
        .withColumn("url",
          concat(lit("http://"), col("host"), lit(".test"), col("path")))
      // (1) robots
      val hosts = (0 until 12).map { hid =>
        val content = hid % 4 match {
          case 0 => "User-Agent: *\nDisallow: /private\n" +
            "Allow: /private/ok$\nDisallow: /tmp*\n"
          case 1 => "User-agent: *\nDisallow: /\n\n" +
            "User-agent: graftbot\nAllow: /private/graft*\nDisallow: /\n"
          case 2 => "# empty\n"
          case _ => "User-agent: otherbot\nUser-agent: *\n" +
            "Disallow: /docs*private\nAllow: /docs\n"
        }
        (s"h$hid", content)
      }.toDF("host", "content")
      val robots = graft.ext.Robots.allowed(base, "doc_id", "host", "path",
        graft.ext.Robots.ruleTable(hosts, "host", "content", "graftbot"))
        .select(col("doc_id"), col("allowed").as("robots_ok"))
      // (2) frontier novelty
      val words = graft.ext.Bloom.build(
        base.filter(col("doc_id") % 5 === 4), "url", p)
      val novel = graft.ext.Bloom.probe(base, "url", "doc_id", words, p)
        .select(col("doc_id"), (!col("maybe_present")).as("novel"))
      // (3) MIME sniff through the real writers (q256's payloads)
      // NOT widened (r17 A/B): q256's rationale — tiny payloads, and the
      // exchange broke the gate's join pipelining (1.84 → 3.50 s measured).
      val mimeOk = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val payload: Array[Byte] = (id % 8).toInt match {
            case 0 => graft.ext.Containers.wavBytes(
              Array.tabulate(16)(j => ((id + j) % 100).toInt))
            case 1 => graft.ext.Containers.bmpBytes(
              graft.ext.Multimodal.Frame(5, 3,
                Array.tabulate(15)(i => ((id + i) % 256).toInt)))
            case 2 => graft.ext.Containers.pngBytes(
              graft.ext.Multimodal.Frame(4, 4,
                Array.tabulate(16)(i => ((id * 7 + i) % 256).toInt)))
            case 3 => graft.ext.Containers.jpegBytes(
              graft.ext.Multimodal.Frame(8, 8,
                Array.tabulate(64)(i => ((id + 3 * i) % 256).toInt)))
            case 4 =>
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(s"doc $id".getBytes("UTF-8")); gz.close()
              bos.toByteArray
            case 5 => s"plain text for doc $id".getBytes("US-ASCII")
            case 6 => Array[Byte](0, -1, (id % 256).toByte, 42)
            case _ => graft.ext.Containers.aviBytes(Seq(
              graft.ext.Multimodal.Frame(4, 2,
                Array.tabulate(8)(i => ((id + i) % 256).toInt))))
          }
          (id, graft.ext.Containers.sniffMime(payload) == "text/plain")
        }.toDF("doc_id", "mime_ok")
      // (4) per-host cap over survivors of 1–3
      val gated = base.join(robots, "doc_id").join(novel, "doc_id")
        .join(mimeOk, "doc_id")
      val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      val capped = gated
        .filter(col("robots_ok") && col("novel") && col("mime_ok"))
        .withColumn("__rk", row_number().over(w))
        .select(col("doc_id"), (col("__rk") <= 20).as("admitted"))
      gated.join(capped, Seq("doc_id"), "left")
        .select(col("doc_id"), col("host"), col("robots_ok"), col("novel"),
          col("mime_ok"), coalesce(col("admitted"), lit(false)).as("admitted"))
    },
    Some {
      val p = graft.ext.Bloom.Params()
      s"""WITH __keys AS (SELECT doc_id,
                 'h' || CAST(doc_id % 12 AS VARCHAR) AS host,
                 (doc_id % 12) % 4 AS hclass,
                 CASE CAST(doc_id % 6 AS INT)
                   WHEN 0 THEN '/private/ok' WHEN 1 THEN '/private/secret'
                   WHEN 2 THEN '/private/graft1' WHEN 3 THEN '/tmpfile'
                   WHEN 4 THEN '/public/page'
                   ELSE '/docs/a/private9' END
                   || '/' || CAST(doc_id AS VARCHAR) AS path
               FROM documents),
          u AS (SELECT *, 'http://' || host || '.test' || path AS url
                FROM __keys),
          rr AS (SELECT * FROM (VALUES
                  (0, false, '/private', '/private%', 8),
                  (0, true,  '/private/ok$$', '/private/ok', 12),
                  (0, false, '/tmp*', '/tmp%', 5),
                  (1, true,  '/private/graft*', '/private/graft%', 15),
                  (1, false, '/', '/%', 1),
                  (3, false, '/docs*private', '/docs%private%', 13),
                  (3, true,  '/docs', '/docs%', 5)
                ) v(hclass, allow, raw, pat, plen)),
          rc AS (SELECT u.doc_id, rr.allow,
                  row_number() OVER (PARTITION BY u.doc_id
                    ORDER BY rr.plen DESC, rr.allow DESC, rr.raw ASC) AS rk
                 FROM u JOIN rr ON u.hclass = rr.hclass
                               AND u.path LIKE rr.pat),
          rob AS (SELECT u.doc_id, COALESCE(rc.allow, true) AS robots_ok
                  FROM u LEFT JOIN (SELECT doc_id, allow FROM rc
                                    WHERE rk = 1) rc USING (doc_id)),
          pos AS (${graft.ext.Bloom.posSql("url", p)
          .replace("FROM __keys", "FROM u")}),
          words AS (SELECT w, bit_or(mask) AS bits
                    FROM pos JOIN ${graft.ext.Bloom.maskValuesSql}
                      USING (bit)
                    WHERE doc_id % 5 = 4 GROUP BY w),
          nov AS (SELECT pos.doc_id,
                    min(CASE WHEN (COALESCE(words.bits, 0) & mask.mask) <> 0
                        THEN 1 ELSE 0 END) = 0 AS novel
                  FROM pos LEFT JOIN words USING (w)
                    JOIN ${graft.ext.Bloom.maskValuesSql} USING (bit)
                  GROUP BY pos.doc_id),
          g AS (SELECT u.doc_id, u.host, rob.robots_ok, nov.novel,
                  CAST(doc_id % 8 AS INT) = 5 AS mime_ok
                FROM u JOIN rob USING (doc_id) JOIN nov USING (doc_id)),
          surv AS (SELECT doc_id,
                    row_number() OVER (PARTITION BY host
                      ORDER BY doc_id) <= 20 AS admitted
                   FROM g WHERE robots_ok AND novel AND mime_ok)
       SELECT g.doc_id, g.host, g.robots_ok, g.novel, g.mime_ok,
              COALESCE(surv.admitted, false) AS admitted
       FROM g LEFT JOIN surv USING (doc_id)"""
    },
  )

  /** Q263 [X]: POLITENESS SCHEDULE + SITEMAP FRONTIER SEEDING — the
    * operational rest of RFC 9309 beside q259's permission gate. Each
    * host's robots body carries a `Crawl-delay` landscape chosen to
    * trip every selection rule ([[graft.ext.Robots.delayTable]]): a
    * plain `*` delay (class 0 → 2000 ms), a graftbot group that must
    * OVERRIDE the `*` group's 10 s with its own 0.5 s (class 1 →
    * 500 ms), no file (class 2 → consumer default), and — the subtle
    * one — a graftbot group WITHOUT a delay next to a `*` group WITH
    * one (class 3): my-group-exists means the `*` delay must NOT
    * apply (→ default). Each host also publishes a sitemap
    * ([[graft.ext.Sitemaps]]) listing its docs (gzipped on odd hosts),
    * parsed back by the real StAX reader; the per-host fetch schedule
    * assigns slot (rank−1)·delay. The twin recomputes everything from
    * `documents` arithmetic — a wrong delay parse, a broken group
    * rule, a dropped/mangled sitemap entry (lastmod/priority ride
    * verbatim), or a bad schedule all break the hash.
    */
  val q263 = OracleQuery(
    "q263_politeness_sitemap",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val robots = (0 until 12).map { hid =>
        val content = hid % 4 match {
          case 0 => "User-Agent: *\nCrawl-delay: 2\nDisallow: /private\n" +
            s"Sitemap: http://h$hid.test/sitemap.xml\n"
          case 1 => "User-agent: *\nCrawl-delay: 10\n\n" +
            "User-agent: graftbot\nCrawl-delay: 0.5\nDisallow: /\n"
          case 2 => "# no directives here\n"
          case _ => "User-agent: graftbot\nDisallow: /x\n\n" +
            "User-agent: *\nCrawl-delay: 7\n"
        }
        (s"h$hid", content)
      }.toDF("host", "content")
      val delays = graft.ext.Robots.delayTable(
        robots, "host", "content", "GraftBot")
      val maps = graft.ext.Robots.sitemapTable(robots, "host", "content")
        .groupBy("host").agg(count(lit(1)).as("n_maps"))
      val bodies = docs
        .select(col("doc_id"), (col("doc_id") % 12).cast("int").as("hid"))
        .as[(Long, Int)]
        .groupByKey(_._2)
        .mapGroups { (hid, it) =>
          val ids = it.map(_._1).toSeq.sorted
          val sb = new StringBuilder(
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
          ids.foreach { id =>
            sb.append("<url><loc>http://h").append(hid)
              .append(".test/p/").append(id)
              .append("</loc><lastmod>2026-01-")
              .append("%02d".format(id % 28 + 1))
              .append("</lastmod><priority>0.").append(id % 10)
              .append("</priority></url>\n")
          }
          sb.append("</urlset>\n")
          val raw = sb.toString.getBytes("UTF-8")
          val gz = hid % 2 == 1
          (s"h$hid", if (gz) graft.ext.Sitemaps.gzip(raw) else raw, gz)
        }
        .toDF("host", "body", "gz")
      graft.ext.Sitemaps.seeds(bodies, "host", "body", "gz")
        .filter(col("kind") === "url")
        .withColumn("doc_id",
          regexp_extract(col("loc"), "/p/([0-9]+)$", 1).cast("long"))
        .join(delays, Seq("host"), "left")
        .join(maps, Seq("host"), "left")
        .withColumn("delay_ms", coalesce(col("delay_ms"), lit(1000L)))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("host")).orderBy(col("doc_id"))))
        .select(col("doc_id"), col("host"), col("lastmod"), col("priority"),
          col("delay_ms"),
          ((col("__rn") - 1) * col("delay_ms")).cast("long").as("sched_ms"),
          coalesce(col("n_maps"), lit(0L)).as("n_maps"))
    },
    Some("""WITH u AS (SELECT doc_id,
                   'h' || CAST(doc_id % 12 AS VARCHAR) AS host,
                   (doc_id % 12) % 4 AS hc
                 FROM documents),
            dl AS (SELECT *, CASE hc WHEN 0 THEN 2000 WHEN 1 THEN 500
                              ELSE 1000 END AS delay_ms
                   FROM u),
            r AS (SELECT *, row_number() OVER (PARTITION BY host
                              ORDER BY doc_id) AS rn
                  FROM dl)
         SELECT doc_id, host,
                '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                  AS lastmod,
                '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
                CAST(delay_ms AS BIGINT) AS delay_ms,
                CAST((rn - 1) * delay_ms AS BIGINT) AS sched_ms,
                CAST(CASE WHEN hc = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_maps
         FROM r"""),
  )

  /** Q266 [X]: SHARDED BLOOM FRONTIER ([[graft.ext.Bloom.buildSharded]]
    * / [[probeSharded]]) — the form past the single-broadcast dense
    * cap: keys route to 4 independent shard filters by a salted hash,
    * and the probe is the CO-PARTITIONED COGROUP (one shuffle of probe
    * rows carrying precomputed positions; each task densifies only its
    * shard). The twin replays the ENTIRE sharded structure relationally
    * in SQL — salted shard routing, per-shard positions, 63-bit words,
    * the (s, w) join — so the hash match certifies that the cogroup's
    * task-local array arithmetic is bit-identical to the relational
    * algebra, including which false positives each shard admits.
    * No-false-negative law spec-pinned alongside shard≡whole at S=1.
    */
  val q266 = OracleQuery(
    "q266_sharded_bloom",
    (s, d) => {
      val p = graft.ext.Bloom.Params(mBits = 1L << 14, k = 5)
      val urls = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 97).cast("string"),
          lit(".test/p/"), col("doc_id").cast("string")).as("url"))
      val words = graft.ext.Bloom.buildSharded(
        urls.filter(col("doc_id") % 3 =!= 0), "url", shards = 4, p)
      graft.ext.Bloom.probeSharded(urls, "url", "doc_id", words, 4, p)
        .select(col("doc_id"), col("maybe_present"),
          (col("doc_id") % 3 =!= 0).as("present"))
    },
    Some {
      val p = graft.ext.Bloom.Params(mBits = 1L << 14, k = 5)
      s"""WITH __keys AS (SELECT doc_id,
                 'http://h' || CAST(doc_id % 97 AS VARCHAR) || '.test/p/' ||
                   CAST(doc_id AS VARCHAR) AS url
               FROM documents),
          pos AS (${graft.ext.Bloom.posShardedSql("url", 4, p)}),
          words AS (SELECT s, w, bit_or(mask) AS bits
                    FROM pos JOIN ${graft.ext.Bloom.maskValuesSql}
                      USING (bit)
                    WHERE doc_id % 3 <> 0 GROUP BY s, w),
          chk AS (SELECT pos.doc_id,
                    min(CASE WHEN (COALESCE(words.bits, 0) & mask.mask) <> 0
                        THEN 1 ELSE 0 END) AS hit
                  FROM pos LEFT JOIN words USING (s, w)
                    JOIN ${graft.ext.Bloom.maskValuesSql} USING (bit)
                  GROUP BY pos.doc_id)
       SELECT doc_id, hit = 1 AS maybe_present,
              doc_id % 3 <> 0 AS present
       FROM chk"""
    },
  )

  val all: Seq[OracleQuery] = Seq(q59, q60, q61, q62, q63, q64, q65, q66,
    q67, q68, q69, q70, q71, q72, q73, q74, q164, q173, q179, q180, q195,
    q220, q245, q247, q248, q252, q255, q258, q259, q261, q263, q266)
}
