package graft.ext

import graft.SparkSpec
import graft.queries.Scratch

/** Unigram-LM tokenizer: hand-computed EM fixture (the forward-backward
  * posterior masses of a 2-char lattice, worked by hand below), the
  * PINNED Viterbi tie rules, and the train/encode surface on a tiny
  * corpus. The Spark-vs-SQL segmentation parity is owned by
  * q240/q241's certificate hash.
  */
class UnigramLmSpec extends SparkSpec {

  private val L3 = math.log(1.0 / 3.0)

  test("expectedCounts: hand-computed forward-backward on 'ab'") {
    // vocab {a, b, ab} all at p=1/3. Two segmentations of "ab":
    //   [a,b]  likelihood (1/3)² = 1/9
    //   [ab]   likelihood 1/3
    // Z = 1/9 + 1/3 = 4/9; posteriors 1/4 and 3/4.
    // Expected counts: c(a) = c(b) = 1/4, c(ab) = 3/4.
    val scores = Map("a" -> L3, "b" -> L3, "ab" -> L3)
    val ec = UnigramLm.expectedCounts("ab", 1L, scores, 2).toSeq.toMap
    ec.keySet shouldBe Set("a", "b", "ab")
    ec("a") shouldBe 0.25 +- 1e-12
    ec("b") shouldBe 0.25 +- 1e-12
    ec("ab") shouldBe 0.75 +- 1e-12
  }

  test("expectedCounts: word frequency scales the masses linearly") {
    val scores = Map("a" -> L3, "b" -> L3, "ab" -> L3)
    val ec = UnigramLm.expectedCounts("ab", 8L, scores, 2).toSeq.toMap
    ec("ab") shouldBe 6.0 +- 1e-11 // 8 · 3/4
  }

  test("expectedCounts: unsegmentable word yields no mass") {
    UnigramLm.expectedCounts("xy", 1L, Map("a" -> L3), 2).toSeq shouldBe empty
  }

  test("viterbi: picks the higher-probability segmentation") {
    // p(ab)=0.6 dominates p(a)p(b)=0.04 — the post-EM state of the
    // hand fixture above.
    val s = Map("a" -> math.log(0.2), "b" -> math.log(0.2),
      "ab" -> math.log(0.6))
    UnigramLm.viterbi("ab", s, 2) shouldBe Seq("ab")
  }

  test("viterbi tie rule 1: equal score -> fewer pieces win") {
    // score([ab]) = -2 = score([a,b]) exactly; 1 piece < 2 pieces.
    val s = Map("a" -> -1.0, "b" -> -1.0, "ab" -> -2.0)
    UnigramLm.viterbi("ab", s, 2) shouldBe Seq("ab")
  }

  test("viterbi tie rule 2: equal score and count -> longer LAST piece") {
    // "aaa" with a=-1, aa=-2: [a,aa] and [aa,a] both score -3 with 2
    // pieces; the pinned rule keeps the smaller last-piece start index,
    // i.e. the LONGER last piece -> [a, aa].
    val s = Map("a" -> -1.0, "aa" -> -2.0)
    UnigramLm.viterbi("aaa", s, 2) shouldBe Seq("a", "aa")
  }

  test("viterbi: unsegmentable word fails loudly") {
    an[IllegalArgumentException] should be thrownBy
      UnigramLm.viterbi("ax", Map("a" -> -1.0), 2)
  }

  test("tokenCounts: empty vocab or maxPieceLen < 1 fails at the call") {
    import spark.implicits._
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      UnigramLm.tokenCounts(docs, "doc_id", "text", Seq.empty, 2)
    an[IllegalArgumentException] should be thrownBy
      UnigramLm.tokenCounts(docs, "doc_id", "text",
        Seq(UnigramLm.Piece("a", -1.0), UnigramLm.Piece("b", -1.0)), 0)
  }

  test("seedPieces counts positions (overlaps included), weighted by f") {
    import spark.implicits._
    // "aaa" f=2: substrings a×3, aa×2, aaa×1 -> weighted 6, 4, 2
    val words = Seq(("aaa", 2L)).toDF("w", "f")
    val m = UnigramLm.seedPieces(words, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    m shouldBe Map("a" -> 6L, "aa" -> 4L, "aaa" -> 2L)
  }

  test("train: single chars survive pruning; ranks are score-ordered") {
    import spark.implicits._
    val docs = Seq.tabulate(20)(i =>
        (i.toLong, if (i % 4 == 0) "cd cd" else "abab abab cd"))
      .toDF("doc_id", "text")
    val vocab = UnigramLm.train(docs, "text", vocabSize = 6, rounds = 3,
      maxPieceLen = 4)
    vocab.size should be <= 6
    val pieces = vocab.map(_.piece).toSet
    Set("a", "b", "c", "d").subsetOf(pieces) shouldBe true
    // frequent whole-token pieces dominate EM mass
    pieces should contain("abab")
    vocab.map(_.score) shouldBe vocab.map(_.score).sorted.reverse
    // scores are a (log-)distribution over the final vocab
    vocab.map(p => math.exp(p.score)).sum shouldBe 1.0 +- 1e-9
  }

  test("tokenCounts: per-doc words/chars/pieces under a fixed vocab") {
    import spark.implicits._
    val docs = Seq((1L, "abab cd"), (2L, "cd cd cd")).toDF("doc_id", "text")
    val vocab = Seq(UnigramLm.Piece("abab", math.log(0.5)),
      UnigramLm.Piece("cd", math.log(0.3)),
      UnigramLm.Piece("a", math.log(0.05)), UnigramLm.Piece("b", math.log(0.05)),
      UnigramLm.Piece("c", math.log(0.05)), UnigramLm.Piece("d", math.log(0.05)))
    val m = UnigramLm.tokenCounts(docs, "doc_id", "text", vocab, 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    m(1L) shouldBe ((2L, 6L, 2L)) // "abab"=1 piece, "cd"=1 piece
    m(2L) shouldBe ((3L, 6L, 3L))
  }
  test("vocab persists and reloads through IndexStore (rank + maxPieceLen)") {
    import spark.implicits._
    val docs = Seq((1L, "abab cd abab"), (2L, "cd cd")).toDF("doc_id", "text")
    val vocab = UnigramLm.train(docs, "text", vocabSize = 6, rounds = 2,
      maxPieceLen = 4)
    Scratch.withTempDir("uni-store") { dir =>
      graft.ext.IndexStore.writeUnigramVocab(spark, vocab, 4, s"$dir/v")
      val (loaded, m) = graft.ext.IndexStore.loadUnigramVocab(spark, s"$dir/v")
      m shouldBe 4
      loaded shouldBe vocab // rank order AND scores byte-for-byte
      // a fresh session encodes identically off the loaded vocab
      val a = UnigramLm.tokenCounts(docs, "doc_id", "text", vocab, 4)
      val b = UnigramLm.tokenCounts(docs, "doc_id", "text", loaded, m)
      a.exceptAll(b).count() shouldBe 0L
      b.exceptAll(a).count() shouldBe 0L
    }
  }
}
