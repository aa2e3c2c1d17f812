package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — the third production family next to BPE
  * ([[Bpe]]) and unigram-LM ([[UnigramLm]]): train by the
  * likelihood-ratio merge rule of Schuster & Nakajima (ICASSP 2012) in
  * its standard count formulation (merge the adjacent pair maximizing
  * `cnt(s1,s2) / (cnt(s1)·cnt(s2))` — pair mass normalized by the
  * parts' own mass, so the loop prefers pairs that PREDICT each other
  * over pairs that are merely frequent), encode by greedy
  * longest-match-first with `##` continuation pieces (the BERT encode
  * rule; a word with any unmatched position becomes one `[UNK]`).
  *
  * Scale discipline: training IS [[Bpe.trainFromVocab]] — the corpus
  * contributes exactly ONE pass (tokenize → distinct-word frequency
  * table, one shuffle); each merge round is two vocab-sized aggregates
  * (pair counts + symbol counts), one broadcast join, one 1-row argmax
  * collect, and one codegen'd two-pass `replace` projection with the
  * vocab frame lazily checkpointed per round. Encode
  * ([[Bpe.countTokens]]) runs once per DISTINCT word against a
  * broadcast piece set and joins back aggregated — O(len · maxPieceLen)
  * per distinct word, never per corpus token.
  *
  * Symbols ride the [[Bpe]] space-separated representation, with
  * non-initial symbols carrying their `##` prefix INSIDE the symbol
  * (" h ##u ##g "), so [[Bpe.pairCounts]] and the two-pass replace
  * proof apply unchanged; a merge of (s1, s2) produces
  * `s1 + strip##(s2)` (s1 keeps its own position class).
  *
  * Determinism: argmax ties break by (score DESC, s1 ASC, s2 ASC); the
  * score compares exactly enough because `cnt·1.0/(c1·c2)` is the same
  * double on every run of the same counts (products ≤ ~1e16 are exact
  * longs first). The oracle certificates (q249–q251) record the learned
  * pieces and re-derive INTEGER facts (position-classed substring
  * support; the greedy DP replayed in SQL), the q239/q240 discipline.
  */
object WordPiece {

  val Unk = "[UNK]"
  val Cont = "##"

  /** One corpus pass: distinct non-empty words with frequencies,
    * symbols initialized to position-classed characters — (sym, f) with
    * sym = " h ##u ##g ".
    */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame = {
    val chars = split(col("w"), "")
    val tail = slice(chars, lit(2), size(chars) - 1)
    Bpe.wordCounts(docs, textCol).filter(nonEmpty)
      .select(
        concat(lit(" "), element_at(chars, 1),
          when(size(tail) > 0,
            concat(lit(" " + Cont), array_join(tail, " " + Cont)))
            .otherwise(lit("")),
          lit(" ")).as("sym"),
        col("f"))
  }

  /** WordPiece's word filter: the empty token has no first character. */
  private def nonEmpty: Column = col("w") =!= ""

  /** Frequency-weighted symbol counts over a (sym, f) vocab — the
    * denominator table of the merge score. Alphabet-sized output.
    */
  def symCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("f"), explode(split(trim(col("sym")), " ")).as("s"))
      .groupBy("s").agg(sum("f").as("c"))

  /** The likelihood-ratio pick: pair counts joined to both parts' symbol
    * counts, score = cnt / (c1·c2) (c1·c2 stays exact in LONG, ≤ ~1e16,
    * and divides once as double).
    */
  private def byLikelihood(vocab: DataFrame): DataFrame = {
    val sc = symCounts(vocab)
    Bpe.pairCounts(vocab)
      .join(broadcast(sc.select(col("s").as("s1"), col("c").as("c1"))), "s1")
      .join(broadcast(sc.select(col("s").as("s2"), col("c").as("c2"))), "s2")
      .withColumn("score",
        col("cnt").cast("double") / (col("c1") * col("c2")).cast("double"))
  }

  /** Learn the top `k` merges — [[Bpe.trainFromVocab]] with the
    * likelihood-ratio pick and `s1 + strip##(s2)` as the merged symbol.
    * Returns (rank, s1, s2, merged, cnt) in merge order (cnt = the
    * winning pair's frequency-weighted count); stops early if the vocab
    * runs out of pairs.
    */
  def train(docs: DataFrame, textCol: String, k: Int): DataFrame =
    Bpe.trainFromVocab(initialVocab(docs, textCol), k, byLikelihood,
      (s1, s2) => s1 + s2.stripPrefix(Cont))

  /** The full learned piece inventory: the initial position-classed
    * alphabet of the corpus plus the merged pieces, deduplicated,
    * sorted (alphabet first by piece, then merges in merge order is NOT
    * needed — encode only consults membership, so a plain sorted set
    * keeps it deterministic).
    */
  def vocabulary(docs: DataFrame, textCol: String,
      merges: Seq[(String, String, String)]): Seq[String] = {
    val alphabet = symCounts(initialVocab(docs, textCol))
      .select("s").collect().map(_.getString(0))
    (alphabet.toSeq ++ merges.map(_._3)).distinct.sorted
  }

  /** Greedy longest-match-first encode of one word (the BERT WordPiece
    * rule): from position i, take the LONGEST vocab piece matching
    * (`##`-prefixed for i > 0); if no piece matches at any position the
    * WHOLE word is one [[Unk]]. Deterministic and integer — the q250
    * twin replays this exact DP in SQL.
    */
  def encodeWord(w: String, vocab: Set[String], maxPieceLen: Int)
      : Seq[String] = {
    val n = w.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      var l = math.min(maxPieceLen, n - i)
      var hit = 0
      while (l >= 1 && hit == 0) {
        val cand = (if (i == 0) "" else Cont) + w.substring(i, i + l)
        if (vocab.contains(cand)) hit = l else l -= 1
      }
      if (hit == 0) return Seq(Unk)
      out += (if (i == 0) "" else Cont) + w.substring(i, i + hit)
      i += hit
    }
    out.toSeq
  }

  /** Per-document WordPiece token counts under a learned vocabulary —
    * [[Bpe.countTokens]] with the greedy encoder, empty words dropped.
    * Output: (idCol, n_words, n_chars, n_pieces).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "WordPiece.tokenCounts: empty vocab")
    val maxPieceLen = vocab.iterator
      .map(p => p.stripPrefix(Cont).length).max
    val b = docs.sparkSession.sparkContext.broadcast(vocab.toSet)
    Bpe.pieceCounts(docs, idCol, textCol, nonEmpty)(w =>
      encodeWord(w, b.value, maxPieceLen).size)
  }

  /** DuckDB CTE chain replaying the GREEDY encode over a `wds(w)`
    * distinct-word relation with the vocab as literals — the q250/q251
    * certificate's heavy half, all INTEGER (no float parity question at
    * all, unlike the q240 Viterbi twin). One materialized CTE per hop
    * (a word of n chars makes ≤ n hops; the caller passes the corpus
    * max word length): each hop advances every unfinished word by its
    * longest matching piece (`row_number` by piece length DESC — the
    * greedy rule verbatim); a word whose chain dies (no match) simply
    * stops producing rows and the caller's LEFT JOIN turns it into the
    * one-[[Unk]] count. Produces CTEs ending in `seg(w, np)`.
    */
  def greedySqlCtes(vocab: Seq[String], maxWordLen: Int): String = {
    require(vocab.nonEmpty && maxWordLen >= 1)
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val values = vocab.map { p =>
      val raw = p.stripPrefix(Cont)
      s"(${q(raw)}, ${raw.length}, ${p.startsWith(Cont)})"
    }.mkString(",\n              ")
    val hops = (1 to maxWordLen).map { r =>
      s"""g$r AS MATERIALIZED (
              SELECT w, pos + ls AS pos, np + 1 AS np FROM (
                SELECT g.w, g.pos, g.np, v.ls,
                       row_number() OVER (PARTITION BY g.w
                         ORDER BY v.ls DESC) AS rn
                FROM g${r - 1} g JOIN wp v
                  ON v.cont = (g.pos > 0)
                 AND substring(g.w, g.pos + 1, v.ls) = v.raw
                WHERE g.pos < length(g.w)
              ) WHERE rn = 1)"""
    }.mkString(",\n            ")
    val unions = (1 to maxWordLen).map(r => s"SELECT * FROM g$r")
      .mkString("\n              UNION ALL ")
    s"""wp(raw, ls, cont) AS (VALUES
              $values),
            g0 AS MATERIALIZED (SELECT w, 0 AS pos, 0 AS np FROM wds),
            $hops,
            seg AS (SELECT w, np FROM (
              $unions) WHERE pos = length(w))"""
  }
}
