package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer induction — Kudo, ACL 2018
  * ("Subword Regularization") — the OTHER production tokenizer family
  * next to BPE ([[Bpe]]): instead of greedy merges, learn a piece
  * vocabulary with per-piece probabilities by EM over all segmentations,
  * then encode by Viterbi (most-probable segmentation).
  *
  * Scale discipline (the [[Bpe.train]] rules, restated for EM):
  *  - The corpus contributes exactly ONE pass: tokenize → distinct-word
  *    frequency table ([[Bpe.wordCounts]], one shuffle). Everything after
  *    runs on the vocab-sized relation.
  *  - The candidate piece table is capped at `seedSize` (+ all single
  *    characters, which are never pruned — they guarantee every word
  *    segments), so the broadcast piece-score map is O(seedSize) — the
  *    IVF-centroid broadcast posture, NOT corpus state.
  *  - Each EM round is: broadcast scores → per-word forward-backward
  *    (a bounded imperative kernel: O(len·maxPieceLen) per DISTINCT
  *    word) → one aggregate of (piece, expected count) rows → an
  *    O(seedSize) driver collect for the next broadcast. Rounds are
  *    fixed; cost is O(rounds · vocab), independent of corpus size.
  *
  * Determinism: every tie rule is pinned (see [[viterbi]]); the EM
  * expected counts are double sums whose exact values may vary in the
  * last ulp with partitioning, which is why the oracle certificates
  * (q239–q241) record the LEARNED vocab from the run and re-derive
  * integer-exact facts (substring counts, Viterbi piece counts under the
  * recorded scores) rather than hash-matching EM internals — EM math
  * itself is pinned by `UnigramLmSpec`'s hand-computed fixture.
  */
object UnigramLm {

  /** A learned vocabulary piece: the string and its log-probability. */
  final case class Piece(piece: String, score: Double)

  /** Candidate pieces: ALL substrings of length 1..maxPieceLen of every
    * distinct word, position-counted (overlapping occurrences count
    * once per start position) and weighted by word frequency —
    * (piece, cnt). Vocab-sized × len·maxPieceLen rows, never corpus
    * rows; the q239 twin recomputes these counts arithmetically.
    */
  def seedPieces(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("f"), col("w"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("i"))
      .select(col("f"), col("w"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i")))).as("l"))
      .select(substring(col("w"), col("i") + 1, col("l")).as("piece"),
        col("f"))
      .groupBy("piece").agg(sum("f").as("cnt"))

  private val Neg = Double.NegativeInfinity

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Neg) b
    else if (b == Neg) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Forward-backward expected piece counts for ONE word under the
    * current scores (Kudo 2018 §3.2's E-step, log-space): the posterior
    * mass of piece p spanning [i, j) is exp(α(i) + s(p) + β(j) − α(n)),
    * summed over segmentations. Emits (piece, f·mass) rows. O(len ·
    * maxPieceLen) lattice edges; returns empty iff the word cannot be
    * segmented at all (impossible once single chars are in the vocab).
    */
  private[ext] def expectedCounts(w: String, f: Long,
      scores: collection.Map[String, Double], maxPieceLen: Int)
      : Iterator[(String, Double)] = {
    val n = w.length
    val alpha = Array.fill(n + 1)(Neg); alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (alpha(i) != Neg) scores.get(w.substring(i, j)).foreach { v =>
          alpha(j) = logSumExp(alpha(j), alpha(i) + v)
        }
        i += 1
      }
      j += 1
    }
    val z = alpha(n)
    if (z == Neg) return Iterator.empty
    val beta = Array.fill(n + 1)(Neg); beta(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var k = i + 1
      val kMax = math.min(n, i + maxPieceLen)
      while (k <= kMax) {
        if (beta(k) != Neg) scores.get(w.substring(i, k)).foreach { v =>
          beta(i) = logSumExp(beta(i), v + beta(k))
        }
        k += 1
      }
      i -= 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    i = 0
    while (i < n) {
      var k = i + 1
      val kMax = math.min(n, i + maxPieceLen)
      while (k <= kMax) {
        if (alpha(i) != Neg && beta(k) != Neg) {
          scores.get(w.substring(i, k)).foreach { v =>
            out += ((w.substring(i, k),
              f.toDouble * math.exp(alpha(i) + v + beta(k) - z)))
          }
        }
        k += 1
      }
      i += 1
    }
    out.iterator
  }

  /** One EM round over the distinct-word relation: broadcast scores,
    * expected counts per word, one aggregate, renormalize. Returns the
    * new score map (O(pieces) driver state — only pieces with positive
    * expected mass survive, which every lattice-reachable piece has).
    */
  private def emRound(words: DataFrame,
      scores: Map[String, Double], maxPieceLen: Int): Map[String, Double] = {
    val spark = words.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(scores)
    val ec = words.select(col("w"), col("f")).as[(String, Long)]
      .flatMap { case (w, f) => expectedCounts(w, f, b.value, maxPieceLen) }
      .toDF("piece", "m")
      .groupBy("piece").agg(sum("m").as("m"))
      .collect()
    val tot = ec.iterator.map(_.getDouble(1)).sum
    ec.iterator.map(r => r.getString(0) -> math.log(r.getDouble(1) / tot))
      .filter(p => java.lang.Double.isFinite(p._2))
      .toMap
  }

  /** Learn a unigram-LM vocabulary: seed with the `seedSize` most
    * frequent substrings (single characters always included), run
    * `rounds` EM rounds, prune to the `vocabSize` highest-probability
    * pieces (single characters again kept), then ONE more EM round so
    * the returned scores are a consistent distribution over the pruned
    * vocab (Kudo's prune-then-re-estimate step, with the iteration
    * count fixed instead of loss-driven — determinism over adaptivity).
    * Returns (rank, piece, score) ranked by score desc, piece asc.
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int, rounds: Int,
      maxPieceLen: Int, seedSize: Int = 100000): Seq[Piece] = {
    require(vocabSize >= 1 && rounds >= 1 && maxPieceLen >= 1,
      s"UnigramLm.train: vocabSize=$vocabSize rounds=$rounds maxPieceLen=$maxPieceLen")
    require(seedSize >= vocabSize && seedSize <= 2000000,
      s"UnigramLm.train: seedSize=$seedSize must be in [vocabSize, 2e6] " +
        "(the piece table is broadcast driver state)")
    val words = Bpe.wordCounts(docs, textCol).localCheckpoint()
    val seed = seedPieces(words, maxPieceLen).localCheckpoint()
    val chars = seed.filter(length(col("piece")) === 1)
    val top = seed.filter(length(col("piece")) >= 2)
      .orderBy(desc("cnt"), col("piece")).limit(seedSize)
    val init = chars.unionByName(top).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot0 = init.values.sum.toDouble
    var scores = init.map { case (p, c) => p -> math.log(c / tot0) }
    (1 to rounds).foreach(_ => scores = emRound(words, scores, maxPieceLen))
    // prune: single chars survive unconditionally (segmentability);
    // multi-char pieces keep the top (vocabSize − |chars|) by
    // (score desc, piece asc) — the pinned rank order.
    val (single, multi) = scores.toSeq.partition(_._1.length == 1)
    val kept = single ++ multi
      .sortBy { case (p, s) => (-s, p) }
      .take(math.max(0, vocabSize - single.size))
    scores = emRound(words, kept.toMap, maxPieceLen)
    scores.toSeq.sortBy { case (p, s) => (-s, p) }
      .map { case (p, s) => Piece(p, s) }
  }

  /** Viterbi segmentation of one word under a score map — the encode
    * side. PINNED tie rules (the q47 near-tie discipline, made exact):
    * highest total score wins; on EXACT score equality, fewer pieces
    * win; still equal, the longer LAST piece wins (equivalently: the
    * smaller last-piece start index — candidates are scanned i
    * ascending and replace only on strict improvement). The q240/q241
    * twins re-run this DP in SQL with the identical comparator and the
    * identical left-to-right float additions, so the hash match
    * certifies the segmentation itself.
    */
  def viterbi(w: String, scores: collection.Map[String, Double],
      maxPieceLen: Int): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Neg)
    val np = Array.fill(n + 1)(Int.MaxValue)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0; np(0) = 0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (best(i) != Neg) scores.get(w.substring(i, j)).foreach { v =>
          val sc = best(i) + v
          val cnt = np(i) + 1
          if (sc > best(j) || (sc == best(j) && cnt < np(j)))
          { best(j) = sc; np(j) = cnt; back(j) = i }
        }
        i += 1
      }
      j += 1
    }
    require(best(n) != Neg,
      s"UnigramLm.viterbi: '$w' is unsegmentable under this vocab " +
        "(a char is missing — single chars must never be pruned)")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { out += w.substring(back(p), p); p = back(p) }
    out.reverseIterator.toSeq
  }

  /** DuckDB CTE chain re-running [[viterbi]] over a `wds(w)` distinct-word
    * relation with the vocab as literals — the q240/q241 certificate's
    * heavy half. The DP is unrolled one CTE per position (words are
    * bounded-length; the caller passes the corpus max), every round
    * `AS MATERIALIZED` (the q165 inlining trap — round j references the
    * running union, which references every earlier round), and the
    * comparator is the PINNED [[viterbi]] tie rule verbatim:
    * `score DESC, np ASC, start-pos ASC`. Float parity holds by
    * construction: scores are shortest-round-trip literals (exact the
    * same doubles), each path score is built by the identical
    * left-to-right `prefix + piece` additions, so every comparison sees
    * bit-identical operands on both engines. Produces CTEs ending in
    * `seg(w, np)` — the per-word Viterbi piece count.
    */
  def viterbiSqlCtes(vocab: Seq[Piece], maxWordLen: Int): String = {
    require(vocab.nonEmpty && maxWordLen >= 1)
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val values = vocab.map(p =>
        s"(${q(p.piece)}, ${p.piece.length}, " +
          s"CAST(${q(java.lang.Double.toString(p.score))} AS DOUBLE))")
      .mkString(",\n              ")
    val rounds = (1 to maxWordLen).map { j =>
      s"""dp$j AS MATERIALIZED (
              SELECT w, pos, score, np FROM (
                SELECT d.w AS w, $j AS pos, d.score + v.s AS score,
                       d.np + 1 AS np,
                       row_number() OVER (PARTITION BY d.w
                         ORDER BY d.score + v.s DESC, d.np + 1 ASC,
                                  d.pos ASC) AS rn
                FROM u${j - 1} d JOIN uv v
                  ON d.pos + v.ls = $j
                 AND substring(d.w, d.pos + 1, v.ls) = v.piece
              ) WHERE rn = 1),
            u$j AS MATERIALIZED (SELECT * FROM u${j - 1}
              UNION ALL SELECT * FROM dp$j)"""
    }.mkString(",\n            ")
    s"""uv(piece, ls, s) AS (VALUES
              $values),
            u0 AS MATERIALIZED (SELECT w, 0 AS pos, CAST(0 AS DOUBLE) AS score,
              0 AS np FROM wds),
            $rounds,
            seg AS (SELECT w, np FROM u$maxWordLen WHERE pos = length(w))"""
  }

  /** Per-document unigram-LM token counts under a learned vocab —
    * [[Bpe.countTokens]] with the Viterbi encoder and the broadcast score
    * map. Output: (idCol, n_words, n_chars, n_pieces).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[Piece], maxPieceLen: Int): DataFrame = {
    require(vocab.nonEmpty && maxPieceLen >= 1,
      s"UnigramLm.tokenCounts: vocab size ${vocab.size}, " +
        s"maxPieceLen=$maxPieceLen (need a non-empty vocab and >= 1)")
    val b = docs.sparkSession.sparkContext.broadcast(
      vocab.map(p => p.piece -> p.score).toMap)
    Bpe.pieceCounts(docs, idCol, textCol)(w =>
      viterbi(w, b.value, maxPieceLen).size)
  }
}
