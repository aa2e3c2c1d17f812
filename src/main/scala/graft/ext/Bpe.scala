package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE vocabulary induction (Sennrich et al. ACL'16) — the real merge
  * loop, not the regex stand-in ([[TextAnalysis.bpeishTokenCount]]): learn
  * the top-k adjacent-symbol merges from the corpus, greedily, highest
  * pair count first.
  *
  * This object is also the ONE subword-tokenizer pipeline the other
  * families ([[ByteBpe]], [[WordPiece]], [[UnigramLm]]) call: the
  * distinct-word table ([[wordCounts]]), the merge loop
  * ([[trainFromVocab]], parameterized by the per-round pick and the
  * merged-symbol rule), the merge application ([[applyMerges]] and its
  * SQL twin [[mergeChainSql]]), and the per-document encode-and-count
  * ([[countTokens]]). A new tokenizer supplies a pick rule and a
  * per-word encoder — never another loop or corpus pass.
  *
  * The scale trick is the classic one: train on the DISTINCT-WORD
  * frequency table, not the token stream. The corpus contributes exactly
  * one pass (tokenize → word counts, one shuffle); every merge round then
  * runs on the vocab-sized relation (|distinct words| rows — thousands to
  * low millions at 100 TB, each a short symbol string), so the loop's cost
  * is O(k · vocab), independent of corpus size. Each round is one
  * aggregate (pair counts weighted by word frequency), one bounded
  * `limit(1).collect()` (the argmax — a single row by construction), and
  * one codegen'd `replace` projection; the vocab frame is checkpointed
  * per round so the replace chain never deepens (the CC-loop lineage
  * discipline).
  *
  * Symbols ride a single space-separated string (" a b c "), padded so a
  * merge is one literal non-overlapping left-to-right `replace(" a b ")`
  * — which is exactly BPE's left-to-right non-overlapping application
  * order. Ties on pair count break by (s1, s2) lexicographically for
  * engine-stable determinism.
  */
object Bpe {

  /** The distinct-word table (w, f) — the one corpus pass every
    * tokenizer trains on: tokenize, one shuffle to word frequencies.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    counted(docs.select(explode(Dedup.tokens(col(textCol))).as("w")))

  private def counted(words: DataFrame): DataFrame =
    words.groupBy("w").agg(count(lit(1)).as("f"))

  /** A word's char-level base symbols: " c h a r s ". */
  private def charSymbols(w: Column): Column =
    concat(lit(" "), array_join(split(w, ""), " "), lit(" "))

  /** One corpus pass: distinct words with frequencies, symbols initialized
    * to characters. Output: (sym = " c h a r s ", f).
    */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    wordCounts(docs, textCol).select(charSymbols(col("w")).as("sym"), col("f"))

  /** Adjacent-symbol pair counts over a (sym, f) vocab, weighted by word
    * frequency: the per-round aggregate of the merge loop. Vocab-sized
    * input, so the higher-order transform here is bounded work per row
    * (symbols per word), never per corpus token.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("f"), split(trim(col("sym")), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("f"), explode(
        transform(sequence(lit(0), size(col("a")) - 2),
          i => struct(
            element_at(col("a"), i + 1).as("s1"),
            element_at(col("a"), i + 2).as("s2")))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum("f").as("cnt"))

  /** BPE's per-round pick: the pair count itself is the score. */
  private def byCount(vocab: DataFrame): DataFrame =
    pairCounts(vocab).withColumn("score", col("cnt"))

  /** Learn the top `k` merges. Returns (rank, s1, s2, merged, cnt) in
    * merge order; stops early if the vocab runs out of pairs.
    */
  def train(docs: DataFrame, textCol: String, k: Int): DataFrame =
    trainFromVocab(initialVocab(docs, textCol), k)

  /** The merge loop over ANY (sym, f) initial vocab — the one loop of
    * char-level [[train]], byte-level [[ByteBpe.train]] and
    * [[WordPiece.train]]. `scored` maps the round's vocab to candidate
    * pairs (s1, s2, cnt, score); the round merges the pair with the
    * highest score, ties broken by (s1, s2). `merge` names the merged
    * symbol (BPE: s1 + s2; WordPiece strips s2's `##`).
    */
  def trainFromVocab(vocab0: DataFrame, k: Int,
      scored: DataFrame => DataFrame = byCount,
      merge: (String, String) => String = _ + _): DataFrame = {
    require(k > 0, s"trainFromVocab: k=$k")
    val spark = vocab0.sparkSession
    var vocab = vocab0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    var r = 1
    while (r <= k && !exhausted) {
      val top = scored(vocab)
        .orderBy(desc("score"), col("s1"), col("s2")).limit(1)
        .select("s1", "s2", "cnt").collect()
      if (top.isEmpty) exhausted = true
      else {
        val (s1, s2, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val merged = merge(s1, s2)
        merges += ((r, s1, s2, merged, cnt))
        // LAZY checkpoint (round 17, the DedupCluster CC-loop rule): it
        // still cuts lineage (each round's plan is one double-replace
        // over the previous round's cached blocks) but materializes as
        // part of the NEXT round's first job — the eager form paid k
        // extra job floors.
        vocab = vocab
          .withColumn("sym", mergeSymbols(col("sym"), s1, s2, merged))
          .localCheckpoint(eager = false)
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "s1", "s2", "merged", "cnt")
  }

  /** One merge applied to a symbol string. TWO replace passes = exact
    * left-to-right non-overlapping BPE application. A single pass misses
    * alternate occurrences in a run (" a b a b ": the first match
    * consumes the shared middle space, hiding the second occurrence's
    * leading space). Misses are never adjacent — a miss happens only
    * directly after a match, whose replacement " s1s2 " ends in a space —
    * so every missed occurrence is space-flanked again in pass two, and
    * merging cannot create new occurrences (patterns are space-delimited
    * whole symbols). Hence exactly two passes.
    */
  private def mergeSymbols(sym: Column, s1: String, s2: String,
      merged: String): Column = {
    val (pat, rep) = (lit(s" $s1 $s2 "), lit(s" $merged "))
    replace(replace(sym, pat, rep), pat, rep)
  }

  /** Apply a learned merge list to a (sym, …) vocab relation, in merge
    * order — the ENCODE side of BPE, same two-pass-replace application as
    * training (so encode ∘ train is self-consistent). Vocab-sized work;
    * the projection chain is cut every 8 merges so codegen never sees an
    * unboundedly deep replace tree.
    */
  def applyMerges(vocab: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.zipWithIndex.foldLeft(vocab) { case (v, ((s1, s2), i)) =>
      val out = v.withColumn("sym", mergeSymbols(col("sym"), s1, s2, s1 + s2))
      if ((i + 1) % 8 == 0) out.localCheckpoint() else out
    }

  /** DuckDB twin of [[charSymbols]] + [[applyMerges]] on one word: `word`
    * (a SQL expression) split into padded symbols — DuckDB
    * `string_split(x, '')` splits to characters exactly like Spark's —
    * then folded through the same two-pass `replace` per merge, in merge
    * order.
    */
  def mergeChainSql(word: String, merges: Seq[(String, String)]): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val sym0 = s"' ' || array_to_string(string_split($word, ''), ' ') || ' '"
    merges.foldLeft(sym0) { case (e, (s1, s2)) =>
      val (pat, rep) = (q(s" $s1 $s2 "), q(s" $s1$s2 "))
      s"replace(replace($e, $pat, $rep), $pat, $rep)"
    }
  }

  /** Per-document token counts under any per-word encoder — the one
    * encode-side corpus pass of every tokenizer: explode the words (those
    * passing `keep`), encode each DISTINCT word once (`encode` maps the
    * (w, f) word table to (w, __n), __n the word's token count), join
    * back as an aggregated build side — the same skew-capped shape as the
    * boilerplate-line dedup — and aggregate per doc. Output: (idCol,
    * n_words, `counts`…).
    */
  private def countTokens(docs: DataFrame, idCol: String, textCol: String,
      keep: Column = lit(true))(encode: DataFrame => DataFrame)(
      counts: Column*): DataFrame = {
    val words = docs.select(col(idCol),
      explode(Dedup.tokens(col(textCol))).as("w")).filter(keep)
    words.join(encode(counted(words)), "w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), counts: _*)
  }

  /** [[countTokens]] for the merge tokenizers: base symbols per word, the
    * merges applied on the distinct-word table, symbols counted. Output:
    * (idCol, n_words, n_bpe_tokens).
    */
  private[ext] def mergeTokenCounts(docs: DataFrame, idCol: String,
      textCol: String, symbols: Column => Column,
      merges: Seq[(String, String)]): DataFrame =
    countTokens(docs, idCol, textCol) { wf =>
      applyMerges(wf.select(col("w"), symbols(col("w")).as("sym")), merges)
        .select(col("w"), size(split(trim(col("sym")), " ")).as("__n"))
    }(sum(col("__n")).as("n_bpe_tokens"))

  /** [[countTokens]] for the piece tokenizers: `pieces` is the piece
    * count of one word, run once per distinct word. Output: (idCol,
    * n_words, n_chars, n_pieces).
    */
  private[ext] def pieceCounts(docs: DataFrame, idCol: String,
      textCol: String, keep: Column = lit(true))(
      pieces: String => Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    countTokens(docs, idCol, textCol, keep) { wf =>
      wf.select("w").as[String].map(w => (w, pieces(w))).toDF("w", "__n")
    }(sum(length(col("w"))).cast("long").as("n_chars"),
      sum(col("__n")).cast("long").as("n_pieces"))
  }

  /** Tokenize the corpus under a learned merge list: per document, the
    * BPE token count (and word count).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    mergeTokenCounts(docs, idCol, textCol, charSymbols, merges)
}
