package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing: assign documents to fixed-budget training
  * shards in a deterministic order. A document's shard is
  * `floor(starting_token_offset / budget)` where the starting offset is
  * the running token total of all earlier documents in its group — i.e.
  * documents are laid end-to-end and cut every `budget` tokens
  * (offset-based sharding; a document may straddle a cut, which the
  * training-time chunker resolves).
  *
  * Scale design: packing is one window aggregate partitioned by the group
  * column (source/language shard family) — a single shuffle on the group
  * key, each group packed independently in parallel. A global (ungrouped)
  * pack would serialize 100 TB through one partition; per-group packing is
  * the distributed formulation, and group boundaries are also the natural
  * mixture boundaries for training-data recipes.
  */
object Packing {

  /** Adds `n_tok` and `shard` to `df`. Order within a group is by `idCol`
    * (must be unique per group for determinism).
    */
  def packShards(df: DataFrame, idCol: String, groupCol: String,
      nTok: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tok", nTok)
      .withColumn("shard",
        ((sum(col("n_tok")).over(w) - col("n_tok")) / lit(budget))
          .cast("long"))
  }

  /** GPT-style concat-and-chop SEQUENCE packing: lay the whole corpus
    * end-to-end in a deterministic pseudo-random order, chop the token
    * stream every `ctxLen` tokens, and report where each document landed —
    * `(id, n_tokens, tok_offset, seq_first, seq_last)` with
    * `seq = offset div ctxLen`. A doc whose span crosses a cut appears in
    * `seq_last − seq_first + 1` consecutive sequences (the training-time
    * loader's attention-mask reset points). The shuffle order is
    * `(h mod nBuckets, h, id)` with `h` the engine-portable id hash —
    * decorrelated from source/crawl order, reproducible across runs and
    * engines.
    *
    * Scale design: the global running token total is a TWO-PHASE cumsum —
    * per-bucket totals (`nBuckets` rows) prefix-summed into base offsets
    * on a relation whose size is the bucket count, then one window
    * partitioned BY BUCKET adds the local prefix. No single-partition
    * window ever sees the corpus; the only corpus-scale exchange is the
    * hash-bucket shuffle itself. `nBuckets` bounds window-partition size:
    * size it so corpus/nBuckets rows fit an executor (65536 at 100 TB).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      ctxLen: Long, nBuckets: Int = 256): DataFrame = {
    val base = df.select(
      col(idCol),
      TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
      TextHash.tokenHash(col(idCol).cast("string")).as("__h"))
      .withColumn("__b", pmod(col("__h"), lit(nBuckets.toLong)))
    // Phase 1: bucket totals → exclusive base offsets. nBuckets rows — the
    // single-partition window is over the BUCKET COUNT, never the corpus.
    val bases = base.groupBy("__b")
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__base",
        coalesce(sum(col("__bt")).over(
          Window.orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__base"))
    // Phase 2: local exclusive prefix within each bucket (parallel), plus
    // the broadcast base.
    val wLoc = Window.partitionBy("__b").orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(bases), "__b")
      .withColumn("tok_offset",
        col("__base") + sum(col("n_tokens")).over(wLoc) - col("n_tokens"))
      .select(
        // Integer `div`, never `/`: float division re-rounds past 2^53
        // tokens and Spark/DuckDB disagree on the cast rounding mode.
        col(idCol), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div ${ctxLen}L").as("seq_first"),
        expr(s"(tok_offset + greatest(n_tokens, 1L) - 1L) div ${ctxLen}L")
          .as("seq_last"))
  }

  /** T5 SPAN-CORRUPTION example generation (the Raffel et al. 2020
    * denoising objective): per document, drop token spans and emit the
    * training pair — input with numbered `<extra_id_k>` sentinels in
    * the spans' places, target = each sentinel followed by its dropped
    * tokens, in order. Spans are DETERMINISTIC AND BLOCK-LOCAL instead
    * of sequentially sampled: positions partition into fixed
    * `blockLen` blocks, and each block corrupts one `spanLen` span at
    * offset `md5-hash(doc, block) mod (blockLen − spanLen + 1)` — no
    * overlap BY CONSTRUCTION (the property a sequential sampler needs a
    * scan to enforce), corruption rate exactly spanLen/blockLen on full
    * blocks, and every choice replays bit-for-bit in SQL (the q33/q57
    * deterministic-codec discipline). A span landing past a short
    * tail block corrupts fewer (or zero) tokens — a block gets a
    * sentinel only if it actually dropped something, on both engines.
    *
    * Scale shape: one posexplode, narrow per-token flags (all codegen
    * arithmetic on the md5 token hash), sentinel numbering a
    * doc-partitioned window over corrupted BLOCKS (≤ len/blockLen rows
    * per doc), and two per-doc string assemblies (sort-by-key inside a
    * doc-bounded collect_list — documents are the parallel unit).
    * Output: (idCol, input_text, target_text, n_sentinels, n_dropped).
    */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      blockLen: Int = 20, spanLen: Int = 3): DataFrame = {
    require(spanLen > 0 && blockLen > spanLen,
      s"spanCorrupt: need blockLen > spanLen > 0, got $blockLen/$spanLen")
    val tok = docs
      .select(col(idCol), posexplode(Dedup.tokens(col(textCol)))
        .as(Seq("pos", "w")))
      .withColumn("blk", (col("pos") / blockLen).cast("long"))
      .withColumn("sstart", col("blk") * blockLen +
        graft.ext.TextHash.tokenHash(concat(col(idCol).cast("string"),
          lit(":"), col("blk").cast("string"))) %
          (blockLen - spanLen + 1))
      .withColumn("corrupt",
        col("pos") >= col("sstart") && col("pos") < col("sstart") + spanLen)
      .localCheckpoint() // three consumers: sentinels, input, target
    val sent = tok.filter(col("corrupt"))
      .groupBy(col(idCol), col("blk"), col("sstart"))
      .agg(count(lit(1)).as("n_drop"))
      .withColumn("k", row_number().over(
        Window.partitionBy(idCol).orderBy("blk")) - 1)
      .withColumn("sentinel",
        concat(lit("<extra_id_"), col("k").cast("string"), lit(">")))
      .localCheckpoint() // three consumers: input, target, counts
    def assemble(pieces: DataFrame, out: String): DataFrame =
      pieces.groupBy(idCol).agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("sk"), col("piece")))),
            x => x.getField("piece")),
          " ").as(out))
    val input = assemble(
      tok.filter(!col("corrupt"))
        .select(col(idCol), (col("pos") * 2).as("sk"), col("w").as("piece"))
        .unionByName(sent.select(col(idCol), (col("sstart") * 2).as("sk"),
          col("sentinel").as("piece"))),
      "input_text")
    val target = assemble(
      tok.filter(col("corrupt"))
        .select(col(idCol), (col("pos") * 2 + 1).as("sk"),
          col("w").as("piece"))
        .unionByName(sent.select(col(idCol), (col("sstart") * 2).as("sk"),
          col("sentinel").as("piece"))),
      "target_text")
    val counts = sent.groupBy(idCol)
      .agg(count(lit(1)).as("n_sentinels"), sum("n_drop").as("n_dropped"))
    input
      .join(target, Seq(idCol), "left")
      .join(counts, Seq(idCol), "left")
      .select(col(idCol), col("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_sentinels"), lit(0L)).as("n_sentinels"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** DuckDB twin of [[spanCorrupt]] — the zipped unnest +
    * generate_subscripts positional form, the shared md5 token hash,
    * and `string_agg(… ORDER BY sk)` for the assemblies.
    */
  def spanCorruptSql(blockLen: Int = 20, spanLen: Int = 3): String = {
    val hash = graft.ext.TextHash.tokenHashSql(
      "CAST(doc_id AS VARCHAR) || ':' || CAST(pos // " + blockLen +
        " AS VARCHAR)")
    s"""WITH tok AS MATERIALIZED (
              SELECT doc_id, w, CAST(p - 1 AS BIGINT) AS pos FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                       generate_subscripts(string_split(text, ' '), 1) AS p
                FROM documents)),
            c AS MATERIALIZED (
              SELECT doc_id, pos, w, pos // $blockLen AS blk,
                     (pos // $blockLen) * $blockLen +
                       ($hash % ${blockLen - spanLen + 1}) AS sstart
              FROM tok),
            cc AS MATERIALIZED (
              SELECT *, pos >= sstart AND pos < sstart + $spanLen AS corrupt
              FROM c),
            sent AS MATERIALIZED (
              SELECT doc_id, blk, sstart, CAST(count(*) AS BIGINT) AS n_drop,
                     '<extra_id_' ||
                       (row_number() OVER (PARTITION BY doc_id
                          ORDER BY blk) - 1) || '>' AS sentinel
              FROM cc WHERE corrupt GROUP BY 1, 2, 3),
            ip AS (SELECT doc_id, pos * 2 AS sk, w AS piece
                   FROM cc WHERE NOT corrupt
                   UNION ALL
                   SELECT doc_id, sstart * 2, sentinel FROM sent),
            tp AS (SELECT doc_id, pos * 2 + 1 AS sk, w AS piece
                   FROM cc WHERE corrupt
                   UNION ALL
                   SELECT doc_id, sstart * 2, sentinel FROM sent),
            inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY sk)
                      AS input_text FROM ip GROUP BY 1),
            tgt AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY sk)
                      AS target_text FROM tp GROUP BY 1),
            ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentinels,
                     CAST(sum(n_drop) AS BIGINT) AS n_dropped
                   FROM sent GROUP BY 1)
       SELECT i.doc_id, i.input_text,
              coalesce(t.target_text, '') AS target_text,
              coalesce(ns.n_sentinels, 0) AS n_sentinels,
              coalesce(ns.n_dropped, 0) AS n_dropped
       FROM inp i LEFT JOIN tgt t USING (doc_id)
       LEFT JOIN ns USING (doc_id)"""
  }

  /** FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022, the
    * infilling objective code models train on): split each document's
    * token sequence at two deterministic cut points and emit the PSM
    * rearrangement `<PRE> prefix <SUF> suffix <MID> middle` — the model
    * learns to produce the middle given both sides. Cuts are md5-derived
    * per document (c1 uniform over [0, n], c2 uniform over [c1, n]), so
    * the twin replays them exactly; empty segments are legal (a cut at
    * the edge) and round-trip as empty slices on both engines.
    *
    * Scale shape: a PURE PER-ROW PROJECTION — split, two hashes, three
    * `slice`s, one `array_join`, all inside whole-stage codegen; no
    * explode, no shuffle, nothing but the scan. The 100 TB form of this
    * operator is exactly this plan.
    */
  def fimTransform(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val arr = Dedup.tokens(col(textCol))
    val n = size(arr)
    val h1 = graft.ext.TextHash.tokenHash(
      concat(col(idCol).cast("string"), lit(":p")))
    val h2 = graft.ext.TextHash.tokenHash(
      concat(col(idCol).cast("string"), lit(":m")))
    val c1 = h1 % (n + 1)
    val c2 = c1 + h2 % (n - c1 + 1)
    val prefix = slice(arr, lit(1), c1)
    val middle = slice(arr, c1 + 1, c2 - c1)
    val suffix = slice(arr, c2 + 1, n - c2)
    docs.select(col(idCol),
      array_join(concat(
        array(lit("<PRE>")), prefix,
        array(lit("<SUF>")), suffix,
        array(lit("<MID>")), middle), " ").as("fim_text"),
      c1.cast("long").as("n_prefix"),
      (c2 - c1).cast("long").as("n_middle"),
      (n - c2).cast("long").as("n_suffix"))
  }

  /** DuckDB twin of [[fimTransform]] — list slicing (1-based inclusive,
    * `l[1:0]` legally empty) and `||` list concatenation.
    */
  def fimOracleSql(): String = {
    val h1 = graft.ext.TextHash.tokenHashSql(
      "CAST(doc_id AS VARCHAR) || ':p'")
    val h2 = graft.ext.TextHash.tokenHashSql(
      "CAST(doc_id AS VARCHAR) || ':m'")
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS l,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                  FROM documents),
            c AS (SELECT doc_id, l, n, $h1 % (n + 1) AS c1 FROM b),
            d AS (SELECT doc_id, l, n, c1,
                    c1 + $h2 % (n - c1 + 1) AS c2 FROM c)
       SELECT doc_id,
              array_to_string(
                ['<PRE>'] || l[1:c1] || ['<SUF>'] || l[c2+1:n] ||
                ['<MID>'] || l[c1+1:c2], ' ') AS fim_text,
              c1 AS n_prefix, c2 - c1 AS n_middle, n - c2 AS n_suffix
       FROM d"""
  }

  /** PER-WINDOW DOCUMENT SEGMENTS for packed training sequences — the
    * attention-mask boundary table: documents are laid end-to-end per
    * group ([[packShards]] offsets) and cut into fixed `budget`-token
    * context windows; every (window, document) overlap becomes one row
    * with the document's token span INSIDE that window. This is the
    * table a trainer needs to mask cross-document attention and to
    * place BOS/EOS — `is_doc_start`/`is_doc_end` mark whether the
    * document's true boundaries fall in this window (a straddling doc
    * continues from/into a neighbor window).
    *
    * Scale shape: the offset is the one group-partitioned running-sum
    * window packShards already pays; each document then fans out to
    * exactly its windows via `sequence` + explode (a doc touches
    * ⌈n/budget⌉+1 windows — output is O(tokens/budget), never
    * all-pairs); the span arithmetic is pure codegen. Output: (groupCol,
    * idCol, window_id, start_tok, end_tok, is_doc_start, is_doc_end)
    * with [start_tok, end_tok) the within-window span.
    */
  def windowSegments(df: DataFrame, idCol: String, groupCol: String,
      nTok: Column, budget: Long): DataFrame = {
    require(budget > 0, s"windowSegments: budget > 0, got $budget")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(groupCol), col(idCol), nTok.cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__off", sum(col("__n")).over(w) - col("__n"))
      .withColumn("window_id", explode(sequence(
        floor(col("__off") / budget).cast("long"),
        floor((col("__off") + col("__n") - 1) / budget).cast("long"))))
      .select(col(groupCol), col(idCol), col("window_id"),
        greatest(col("__off") - col("window_id") * budget, lit(0L))
          .as("start_tok"),
        least(col("__off") + col("__n") - col("window_id") * budget,
          lit(budget)).as("end_tok"),
        (col("__off") >= col("window_id") * budget).as("is_doc_start"),
        (col("__off") + col("__n") <= (col("window_id") + 1) * budget)
          .as("is_doc_end"))
  }

  /** DuckDB twin of [[windowSegments]] — cumulative-sum window +
    * generate_series fan-out. `ctes` must end in a `d(grp, doc_id, n)`
    * CTE of per-document token counts (the [[ffdPackSql]] `itemsCte`
    * seam); documents with n ≤ 0 are dropped as on the Spark side.
    */
  def windowSegmentsSql(ctes: String, groupCol: String,
      budget: Long): String =
    s"""WITH $ctes,
            o AS (SELECT grp, doc_id, n,
                    CAST(sum(n) OVER (PARTITION BY grp ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n AS BIGINT) AS off
                  FROM d WHERE n > 0),
            f AS (SELECT grp, doc_id, n, off,
                    unnest(generate_series(off // $budget,
                      (off + n - 1) // $budget)) AS window_id
                  FROM o)
       SELECT grp AS $groupCol, doc_id, window_id,
              greatest(off - window_id * $budget, 0) AS start_tok,
              least(off + n - window_id * $budget, $budget) AS end_tok,
              off >= window_id * $budget AS is_doc_start,
              off + n <= (window_id + 1) * $budget AS is_doc_end
       FROM f"""

  /** FIRST-FIT-DECREASING sequence packing — the padding-minimizing
    * alternative to [[packSequences]]'s concat-and-chop for trainers
    * that cannot mask attention across documents: no document is ever
    * split; each lands whole in one fixed-`budget` sequence, and the
    * classic FFD greedy (items by length descending, each into the
    * lowest-numbered bin it fits — a new bin is just the first empty
    * one, so bins number in open order) keeps the padding waste within
    * the textbook 11/9·OPT+6/9 bound.
    *
    * FFD is inherently sequential, so the distributed form is
    * PER-BUCKET: the caller pre-buckets the corpus (source shards,
    * octet groups — any deterministic bounded grouping), each bucket
    * packs independently inside one `flatMapGroups` task, and
    * cross-bucket parallelism is the scale axis (the [[packShards]]
    * argument: a single global FFD would serialize 100 TB through one
    * state). Determinism: items sort by (len DESC, id ASC) — a total
    * order.
    *
    * Output (groupCol, idCol, n_tok, seq_id, off): bin index in open
    * order per bucket and the document's token offset within its bin.
    * Documents longer than `budget` are refused loudly (chop first —
    * [[graft.ext.Chunker]]); zero/negative lengths likewise.
    */
  def ffdPack(df: DataFrame, idCol: String, groupCol: String,
      nTok: Column, budget: Long): DataFrame = {
    require(budget > 0, s"ffdPack: budget=$budget")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string"), col(idCol).cast("long"),
        nTok.cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val items = it.map(t => (t._2, t._3)).toVector
        items.foreach { case (id, len) =>
          require(len > 0 && len <= budget,
            s"ffdPack: item $id has n_tok=$len outside (0, $budget] — " +
              "chop oversized documents before packing")
        }
        val sorted = items.sortBy { case (id, len) => (-len, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        sorted.map { case (id, len) =>
          val j = fills.indexWhere(_ + len <= budget)
          val bin = if (j < 0) { fills += 0L; fills.length - 1 } else j
          val off = fills(bin)
          fills(bin) += len
          (g, id, len, bin.toLong, off)
        }
      }
      .toDF(groupCol, idCol, "n_tok", "seq_id", "off")
  }

  /** DuckDB twin builder for [[ffdPack]] over buckets of at most
    * `maxItems` documents: the greedy is UNROLLED — one CTE per rank,
    * carrying the ≤ `maxItems` bin fills as columns (the q240
    * bounded-DP discipline), with DuckDB's lateral column aliases
    * picking the first fitting bin. `itemsCte` must expose
    * (bucket, doc_id, n_tok); emits the final
    * (bucket, doc_id, n_tok, seq_id, off) select.
    */
  def ffdPackSql(itemsCte: String, budget: Long, maxItems: Int): String = {
    require(maxItems >= 1 && maxItems <= 16,
      s"ffdPackSql: maxItems=$maxItems out of the unrollable range")
    val ks = 1 to maxItems
    val pivot = ks.map(k =>
      s"max(CASE WHEN k = $k THEN doc_id END) AS id$k,\n" +
        s"           max(CASE WHEN k = $k THEN n_tok END) AS l$k")
      .mkString(",\n           ")
    val f0 = ks.map(k => s"CAST(0 AS BIGINT) AS f0_$k").mkString(", ")
    val steps = ks.map { i =>
      val prev = i - 1
      val bin = ks.map(j => s"WHEN f${prev}_$j + l$i <= $budget THEN $j")
        .mkString(" ")
      val fills = ks.map(j =>
        s"CASE WHEN b$i = $j THEN f${prev}_$j + l$i ELSE f${prev}_$j END " +
          s"AS f${i}_$j").mkString(",\n             ")
      val off = ks.map(j => s"WHEN b$i = $j THEN f${prev}_$j")
        .mkString(" ")
      s"""st$i AS (SELECT *,
             CASE WHEN l$i IS NULL THEN NULL $bin END AS b$i,
             CASE $off END AS o$i,
             $fills
           FROM st$prev)"""
    }.mkString(",\n          ")
    val unpivot = ks.map(i =>
      s"""SELECT bucket, id$i AS doc_id, l$i AS n_tok,
              CAST(b$i - 1 AS BIGINT) AS seq_id, o$i AS off
         FROM st$maxItems WHERE id$i IS NOT NULL""").mkString(
      "\n          UNION ALL\n          ")
    s"""WITH $itemsCte,
          srt AS (SELECT *, row_number() OVER (PARTITION BY bucket
                    ORDER BY n_tok DESC, doc_id) AS k
                  FROM items),
          st0 AS (SELECT bucket,
           $pivot,
           $f0
                  FROM srt GROUP BY bucket),
          $steps
       $unpivot"""
  }

  /** Rank-ordered top-k concatenation per group — the context-assembly
    * step of a retrieval (RAG) pipeline: the k best payloads of each
    * group, joined in rank order into one string. `order` must end in a
    * total-order tiebreak (engine-stable ranking).
    *
    * Scale: `row_number() <= k` plans a partial WindowGroupLimit BEFORE
    * the exchange (only k·groups rows shuffle), and the collected array is
    * bounded by k — the interpreted per-group lambda touches k elements,
    * never the corpus. Output: groupCol, `n_items`, `packed`.
    */
  def topKConcat(df: DataFrame, groupCol: String, order: Seq[Column],
      payload: Column, k: Int, sep: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(order: _*)
    df.withColumn("__p", payload)
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_items"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__rnk").as("r"),
              col("__p").as("p")))),
            x => x.getField("p")),
          sep).as("packed"))
  }
}
