package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [X] dedup operators: exact, minhash/LSH, simhash, n-gram Jaccard. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min-id keeper") {
    val out = Dedup.exactByHash(docs, "doc_id", "text")
    out.count() shouldBe 3
    val dup = out.filter($"dup_cnt" === 2).head()
    dup.getAs[Long]("keeper") shouldBe 1L
  }

  test("wordNgrams: distinct n-grams, empty for short docs") {
    val g = Seq((1L, "a b c b a b"), (2L, "solo"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.wordNgrams($"text", 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[String]]("g")).toMap
    g(1L).toSet shouldBe Set("a b", "b c", "c b", "b a") // distinct
    g(2L) shouldBe Seq.empty
  }

  test("minhash: identical docs get identical signatures; sigs in range") {
    val sig = Dedup.minHashSignature(docs, "doc_id", "text")
      .select("doc_id", "mh0", "mh1", "mh2", "mh3").collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    sig(1L) shouldBe sig(2L)
    sig(1L) should not be sig(4L)
    all(sig.values.flatten) should be >= 0L
  }

  test("LSH banding: exact dups are candidates in every band; distinct docs are not") {
    val sig = Dedup.minHashSignature(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id",
      Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    pairs should contain((1L, 2L, 0))
    pairs should contain((1L, 2L, 1))
    pairs.map(p => (p._1, p._2)) should not contain ((1L, 4L))
  }

  test("simhash: identical→equal, near-dup closer than unrelated (Hamming)") {
    val h = docs.select($"doc_id", Dedup.simHash16($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    h(1L) shouldBe h(2L)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(h(1L), h(3L)) should be < ham(h(1L), h(4L))
    all(h.values) should (be >= 0L and be < 65536L)
  }

  test("consecutive n-gram Jaccard: dup pair ≈ 1, near-dup high, unrelated 0") {
    val j = Dedup.consecutiveNgramJaccard(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    j(1L) shouldBe 1.0 // docs 1-2 identical
    j(2L) should (be > 0.5 and be < 1.0) // docs 2-3 near dup
    j(3L) shouldBe 0.0 // docs 3-4 unrelated
  }

  test("repeatedSubstrSpans: cross-doc repeats merge to maximal spans") {
    import spark.implicits._
    // Docs 1 and 2 share "p q r" (and its 1-shifted overlap "q r s"):
    // hits at positions 2 and 3 in doc 1 merge into one span 2-5.
    val d = Seq(
      (1L, "a p q r s b c"),
      (2L, "x p q r s y"),
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSubstrSpans(d, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    out(1L) shouldBe ((1L, 4L, "2-5"))
    out(2L) shouldBe ((1L, 4L, "2-5"))
    out.contains(3L) shouldBe false
  }

  test("repeatedSubstrSpans: within-doc repetition counts; disjoint spans listed") {
    import spark.implicits._
    // "u v w" occurs twice INSIDE doc 5 (positions 1 and 7, disjoint) —
    // global count 2 with no second document.
    val d = Seq(
      (5L, "u v w a b c u v w"),
      (6L, "nothing shared at all zz")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSubstrSpans(d, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    out(5L) shouldBe ((2L, 6L, "1-3,7-9"))
    out.contains(6L) shouldBe false
  }

  test("jaccardSimilarityJoin ≡ brute force on random corpora (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 80 docs over a 60-word vocab, with a planted near-dup pair: big
    // shared-bigram overlaps exist, most pairs fall below τ.
    val base = (0 until 80).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(10))(s"v${rnd.nextInt(60)}")
      (i.toLong, words.mkString(" "))
    }
    val docs = (base :+ ((80L, base(3)._2 + " extra"))).toDF("doc_id", "text")
    for ((tn, td) <- Seq((1, 2), (3, 10), (9, 10))) {
      val got = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // brute force over collected bigram sets
      val sets = base.map { case (id, t) =>
        id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      } :+ (80L -> (base(3)._2 + " extra").split(" ").sliding(2).map(_.mkString(" ")).toSet)
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        i = (sa & sb).size.toLong
        if i * td >= (sa.size + sb.size - i) * tn
      } yield (ia, ib, i)).toSet
      got shouldBe want
    }
  }

  test("repeatedSubstrSpans: docs shorter than l never error or match") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d e")).toDF("doc_id", "text")
    // 2-token docs have no 3-grams — even though their full text repeats.
    Dedup.repeatedSubstrSpans(d, "doc_id", "text", l = 3).count() shouldBe 0L
  }

  test("simHashNearDupPairs ≡ brute-force Hamming ball (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val base = (0 until 120).map { i =>
      val words = Seq.fill(8 + rnd.nextInt(10))(s"v${rnd.nextInt(30)}")
      (i.toLong, words.mkString(" "))
    }
    val d = (base :+ ((120L, base(9)._2))).toDF("doc_id", "text")
    for (maxDist <- Seq(0, 3, 7)) {
      val got = Dedup.simHashNearDupPairs(d, "doc_id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sig = d.select($"doc_id", Dedup.simHash16($"text").as("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val want = (for {
        (ia, sa) <- sig; (ib, sb) <- sig if ia < ib
        dist = java.lang.Long.bitCount(sa ^ sb).toLong
        if dist <= maxDist
      } yield (ia, ib, dist)).toSet
      got shouldBe want
      if (maxDist == 0) got.map(p => (p._1, p._2)) should contain((9L, 120L))
    }
  }

  test("simHash64NearDupPairs ≡ brute-force Hamming ball (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(62)
    val base = (0 until 100).map { i =>
      val words = Seq.fill(8 + rnd.nextInt(10))(s"v${rnd.nextInt(30)}")
      (i.toLong, words.mkString(" "))
    }
    // planted exact dup (distance 0) + a one-word edit (small distance)
    val d = (base ++ Seq((100L, base(9)._2), (101L, base(9)._2 + " zz")))
      .toDF("doc_id", "text")
    // maxDist exercising band widths 64 (1 band), 22/21/21 (leftover
    // distribution), 16 (the production radius), and 13/13/13/13/12
    for (maxDist <- Seq(0, 2, 3, 4)) {
      val got = Dedup.simHash64NearDupPairs(d, "doc_id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sig = Dedup.simHash64Signature(d, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val want = (for {
        (ia, sa) <- sig; (ib, sb) <- sig if ia < ib
        dist = java.lang.Long.bitCount(sa ^ sb).toLong
        if dist <= maxDist
      } yield (ia, ib, dist)).toSet
      got shouldBe want
      if (maxDist == 0) got.map(p => (p._1, p._2)) should contain((9L, 100L))
    }
    // the wide fingerprint must actually use high bits: some signature
    // has a bit above 32 set (a 16-bit-shaped fingerprint would not)
    val sigs = Dedup.simHash64Signature(d, "doc_id", "text")
      .collect().map(_.getLong(1))
    assert(sigs.exists(s => (s >>> 32) != 0L),
      "no signature uses the high 32 bits — fingerprint is not 64-bit")
    // identical docs agree exactly; the one-word edit stays much closer
    // than an unrelated doc (sanity of the vote semantics at width 64)
    val m = Dedup.simHash64Signature(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(9L) shouldBe m(100L)
    java.lang.Long.bitCount(m(9L) ^ m(101L)) should be <
      java.lang.Long.bitCount(m(9L) ^ m(50L))
  }

  test("GramIndex: one build serves jaccard + cosine + containment identically") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val base = (0 until 60).map { i =>
      val words = Seq.fill(10 + rnd.nextInt(8))(s"v${rnd.nextInt(25)}")
      (i.toLong, words.mkString(" "))
    }
    val docs = (base :+ ((60L, base(7)._2 + " tail"))).toDF("doc_id", "text")
    val idx = Dedup.gramIndex(docs, "doc_id", "text", n = 2)
    // All three joins off ONE index (the gram pipeline materializes once —
    // every shared relation is checkpointed inside the index) must equal
    // the standalone per-join builds row for row.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    rows(Dedup.jaccardSimilarityJoin(idx, 3, 10)) shouldBe
      rows(Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 3, 10))
    rows(Dedup.cosineSimilarityJoin(idx, 4, 5)) shouldBe
      rows(Dedup.cosineSimilarityJoin(docs, "doc_id", "text", 2, 4, 5))
    rows(Dedup.containmentJoin(idx, 4, 5)) shouldBe
      rows(Dedup.containmentJoin(docs, "doc_id", "text", 2, 4, 5))
    // a second threshold on the same index reuses the same relations
    rows(Dedup.jaccardSimilarityJoin(idx, 9, 10)) shouldBe
      rows(Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, 9, 10))
  }

  test("incrementalJaccardJoin ≡ brute force across the corpus/batch split") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val corpusRows = (0 until 60).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(40)}")
      (i.toLong, words.mkString(" "))
    }
    // batch: a near-dup of corpus doc 11, a doc of ENTIRELY unseen grams,
    // a half-seen half-unseen doc, and random docs from the same vocab
    val batchRows = Seq(
      (100L, corpusRows(11)._2 + " extra"),
      (101L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"),
      (102L, corpusRows(4)._2.split(" ").take(6).mkString(" ") +
        " qq1 qq2 qq3 qq4 qq5")
    ) ++ (0 until 20).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(40)}")
      (200L + i, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    def bigrams(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    for ((tn, td) <- Seq((1, 2), (3, 10), (4, 5))) {
      val got = Dedup.incrementalJaccardJoin(idx, batch, "doc_id", "text",
        tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ib, tb) <- batchRows; (ic, tc) <- corpusRows
        sb = bigrams(tb); sc = bigrams(tc)
        i = (sb & sc).size.toLong
        if i * td >= (sb.size + sc.size - i) * tn
      } yield (ib, ic, i)).toSet
      got shouldBe want
      if (tn == 1) got.map(p => (p._1, p._2)) should contain((100L, 11L))
    }
    // pure-unseen doc matches nothing and never errors
    Dedup.incrementalJaccardJoin(idx, batch.filter($"doc_id" === 101L),
      "doc_id", "text", 1, 10).count() shouldBe 0L
  }

  test("incrementalContainmentJoin ≡ brute force across the corpus/batch split") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val corpusRows = (0 until 60).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(40)}")
      (i.toLong, words.mkString(" "))
    }
    // batch: a verbatim excerpt of corpus doc 9 (containment 1.0), a doc of
    // ENTIRELY unseen grams, a half-seen half-unseen doc, and random docs
    val batchRows = Seq(
      (100L, corpusRows(9)._2.split(" ").take(8).mkString(" ")),
      (101L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"),
      (102L, corpusRows(4)._2.split(" ").take(6).mkString(" ") +
        " qq1 qq2 qq3 qq4 qq5")
    ) ++ (0 until 20).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(40)}")
      (200L + i, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    def bigrams(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    for ((tn, td) <- Seq((1, 2), (3, 5), (9, 10))) {
      val got = Dedup.incrementalContainmentJoin(idx, batch, "doc_id", "text",
        tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ib, tb) <- batchRows; (ic, tc) <- corpusRows
        sb = bigrams(tb); sc = bigrams(tc)
        i = (sb & sc).size.toLong
        if i * td >= sb.size * tn
      } yield (ib, ic, i)).toSet
      got shouldBe want
      // the verbatim excerpt is fully contained at every threshold
      got.map(p => (p._1, p._2)) should contain((100L, 9L))
    }
    // pure-unseen doc matches nothing and never errors
    Dedup.incrementalContainmentJoin(idx, batch.filter($"doc_id" === 101L),
      "doc_id", "text", 1, 10).count() shouldBe 0L
  }

  test("incrementalCosineJoin ≡ brute force; unseen mass stays in the norm") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val corpusRows = (0 until 60).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(30)}")
      (i.toLong, words.mkString(" "))
    }
    // batch: a verbatim copy of corpus doc 13 (cos = 1), a doc whose
    // known HALF matches doc 5 exactly but whose other half is unseen
    // vocabulary (full-norm rule must hold its cosine down), a doc of
    // entirely unseen grams, and random docs from the corpus vocab
    val batchRows = Seq(
      (100L, corpusRows(13)._2),
      (101L, corpusRows(5)._2 + " zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8"),
      (102L, "yy1 yy2 yy3 yy4 yy5 yy6 yy7 yy8 yy9 yy10")
    ) ++ (0 until 20).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(30)}")
      (200L + i, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    def tf(t: String): Map[String, Long] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, o) => g -> math.min(o.size.toLong, 65535L) }
    for ((tn, td) <- Seq((1, 2), (7, 10), (9, 10))) {
      val got = Dedup.incrementalCosineJoin(idx, batch, "doc_id", "text",
        tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ib, tb) <- batchRows; (ic, tc) <- corpusRows
        fa = tf(tb); fb = tf(tc)
        dot = fa.keysIterator.map(g => fa(g) * fb.getOrElse(g, 0L)).sum
        na2 = fa.valuesIterator.map(w => w * w).sum
        nb2 = fb.valuesIterator.map(w => w * w).sum
        if BigInt(dot) * dot * td * td >= BigInt(na2) * nb2 * tn * tn && dot > 0
      } yield (ib, ic, dot)).toSet
      got shouldBe want
      // the verbatim copy survives every threshold
      got.map(p => (p._1, p._2)) should contain((100L, 13L))
    }
    // the half-unseen doc must NOT pass a high threshold against doc 5
    // (its full norm includes the unseen half), but the verbatim copy does
    val high = Dedup.incrementalCosineJoin(idx, batch, "doc_id", "text", 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    high should not contain ((101L, 5L))
    // pure-unseen doc matches nothing and never errors
    Dedup.incrementalCosineJoin(idx, batch.filter($"doc_id" === 102L),
      "doc_id", "text", 1, 10).count() shouldBe 0L
  }

  test("incrementalSimHash64Pairs ≡ brute force across the corpus/batch split") {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val corpusRows = (0 until 60).map { i =>
      val words = Seq.fill(20 + rnd.nextInt(10))(s"v${rnd.nextInt(50)}")
      (i.toLong, words.mkString(" "))
    }
    // batch: an exact copy of corpus doc 21 (dist 0), a lightly-edited
    // near-dup of doc 8, and random docs from the same vocabulary
    val batchRows = Seq(
      (100L, corpusRows(21)._2),
      (101L, corpusRows(8)._2 + " v1 v2")
    ) ++ (0 until 20).map { i =>
      val words = Seq.fill(20 + rnd.nextInt(10))(s"v${rnd.nextInt(50)}")
      (200L + i, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val corpusSig = Dedup.simHash64Signature(corpus, "doc_id", "text")
      .localCheckpoint()
    val sigOf: Map[Long, Long] = corpusSig.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val bSigOf: Map[Long, Long] =
      Dedup.simHash64Signature(batch, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    for (d <- Seq(0, 3, 7)) {
      val got = Dedup.incrementalSimHash64Pairs(
        corpusSig, batch, "doc_id", "text", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ib, _) <- batchRows; (ic, _) <- corpusRows
        dist = java.lang.Long.bitCount(bSigOf(ib) ^ sigOf(ic)).toLong
        if dist <= d
      } yield (ib, ic, dist)).toSet
      got shouldBe want
      // the exact copy collides at distance 0 at every radius
      got.map(p => (p._1, p._2)) should contain((100L, 21L))
    }
  }

  test("ingestGate: per-signal flags and admit verdict against frozen structures") {
    import spark.implicits._
    val rnd = new scala.util.Random(79)
    val corpusRows = (0 until 50).map { i =>
      val words = Seq.fill(20 + rnd.nextInt(10))(s"v${rnd.nextInt(50)}")
      (i.toLong, words.mkString(" "))
    }
    val batchRows = Seq(
      (100L, corpusRows(11)._2),                     // exact dup
      (101L, corpusRows(4)._2 + " vx vy"),           // near-dup, not exact
      (102L, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12")) // novel
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val gate = Dedup.ingestGate(
      Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
      Dedup.simHash64Signature(corpus, "doc_id", "text"),
      corpus, batch, "doc_id", "text",
      tauNum = 1, tauDen = 2, maxDist = 3)
    val rows = gate.collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    rows.keySet shouldBe Set(100L, 101L, 102L)       // one row per batch doc
    rows(100L) shouldBe ((true, true, true, false))  // all signals fire
    // the two-word append stays a jaccard+simhash near-dup but not exact
    rows(101L)._1 shouldBe false
    rows(101L)._2 shouldBe true
    rows(101L)._4 shouldBe false
    // the novel doc passes every signal
    rows(102L) shouldBe ((false, false, false, true))
  }

  test("GramIndex.append ≡ full rebuild for every exact join; corpus gids frozen") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val corpusRows = (0 until 50).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(30)}")
      (i.toLong, words.mkString(" "))
    }
    // batch: a near-dup of a corpus doc, a doc of entirely NEW vocabulary
    // (its grams must take ids past the corpus maxGid), and random docs
    val batchRows = Seq(
      (100L, corpusRows(3)._2 + " tail"),
      (101L, "zz1 zz2 zz3 zz4 zz5 zz6 zz1 zz2 zz3 zz4")
    ) ++ (0 until 15).map { i =>
      val words = Seq.fill(12 + rnd.nextInt(8))(s"v${rnd.nextInt(30)}")
      (200L + i, words.mkString(" "))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val base = Dedup.gramIndex(corpus, "doc_id", "text", n = 2)
    val appended = base.append(batch, "doc_id", "text")
    val full = Dedup.gramIndex(corpus.unionByName(batch), "doc_id", "text",
      n = 2)
    // the appended index's gid ORDER differs from the rebuild's (frozen
    // corpus ranks + tail), but every exact join's OUTPUT must be
    // identical — exactness never depends on the rarest-first heuristic
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    rows(Dedup.jaccardSimilarityJoin(appended, 1, 2)) shouldBe
      rows(Dedup.jaccardSimilarityJoin(full, 1, 2))
    rows(Dedup.cosineSimilarityJoin(appended, 7, 10)) shouldBe
      rows(Dedup.cosineSimilarityJoin(full, 7, 10))
    rows(Dedup.containmentJoin(appended, 4, 5)) shouldBe
      rows(Dedup.containmentJoin(full, 4, 5))
    // dictionary contract: corpus grams keep their exact gids; batch-new
    // grams all rank past the corpus maximum
    val origDict = base.dict.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val apDict = appended.dict.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    origDict.foreach { case (g, gid) => apDict(g) shouldBe gid }
    val maxBase = origDict.values.max
    (apDict.keySet -- origDict.keySet).foreach { g =>
      apDict(g) should be > maxBase
    }
    // the appended index serves incremental probes like any other
    val probe = Seq((300L, corpusRows(7)._2)).toDF("doc_id", "text")
    Dedup.incrementalJaccardJoin(appended, probe, "doc_id", "text", 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))) should contain((300L, 7L))
  }

  test("cosineSimilarityJoin ≡ brute force on random corpora (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // Repetition-heavy docs so tf weights differ from set membership.
    val base = (0 until 70).map { i =>
      val words = Seq.fill(10 + rnd.nextInt(8))(s"v${rnd.nextInt(25)}")
      (i.toLong, words.mkString(" "))
    }
    val docs = (base :+ ((70L, base(5)._2 + " " + base(5)._2))).toDF("doc_id", "text")
    def tf(t: String): Map[String, Long] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val all = base :+ ((70L, base(5)._2 + " " + base(5)._2))
    for ((tn, td) <- Seq((1, 2), (7, 10), (19, 20))) {
      val got = Dedup.cosineSimilarityJoin(docs, "doc_id", "text", 2, tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ia, ta) <- all; (ib, tb) <- all if ia < ib
        va = tf(ta); vb = tf(tb)
        dot = va.keySet.intersect(vb.keySet).toSeq.map(g => va(g) * vb(g)).sum
        na2 = va.values.map(w => w * w).sum
        nb2 = vb.values.map(w => w * w).sum
        if dot * dot * td * td >= na2 * nb2 * tn * tn
      } yield (ia, ib, dot)).toSet
      got shouldBe want
    }
  }

  test("cosineSimilarityJoin: tf weighting separates emphasis from vocabulary") {
    import spark.implicits._
    // Docs 1/2 share ALL bigrams (Jaccard 1.0 on sets) but with opposite
    // emphasis; cosine on tf vectors sees the difference.
    val d = Seq(
      (1L, "a b a b a b a b a b c d"),
      (2L, "c d c d c d c d c d a b"),
      (3L, "a b a b a b a b a b c d")
    ).toDF("doc_id", "text")
    val out = Dedup.cosineSimilarityJoin(d, "doc_id", "text", 2, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out should contain((1L, 3L)) // identical emphasis
    out should not contain ((1L, 2L)) // same grams, opposite tf profile
  }

  test("containmentJoin ≡ brute force; finds excerpt inside superset") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val base = (0 until 60).map { i =>
      val words = Seq.fill(10 + rnd.nextInt(8))(s"v${rnd.nextInt(40)}")
      (i.toLong, words.mkString(" "))
    }
    // doc 60 = doc 7 embedded in a much larger doc: containment(7→60) ≈ 1,
    // Jaccard(7, 60) small.
    val sup = base(7)._2 + " " + base(11)._2 + " " + base(12)._2
    val all = base :+ ((60L, sup))
    val docs = all.toDF("doc_id", "text")
    def bg(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    for ((tn, td) <- Seq((4, 5), (1, 2))) {
      val got = Dedup.containmentJoin(docs, "doc_id", "text", 2, tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ia, ta) <- all; (ib, tb) <- all if ia != ib
        sa = bg(ta); sb = bg(tb)
        i = (sa & sb).size.toLong
        if i * td >= sa.size * tn
      } yield (ia, ib, i)).toSet
      got shouldBe want
      if (tn == 4) got.map(p => (p._1, p._2)) should contain((7L, 60L))
    }
  }

  test("every exact gram join and probe accessor rejects tau outside (0, 1]") {
    val idx = Dedup.gramIndex(docs, "doc_id", "text", n = 2)
    def call(name: String)(f: (Int, Int) => Any) = name -> f
    val calls = Seq(
      call("jaccard")((tn, td) => Dedup.jaccardSimilarityJoin(idx, tn, td)),
      call("cosine")((tn, td) => Dedup.cosineSimilarityJoin(idx, tn, td)),
      call("containment")((tn, td) => Dedup.containmentJoin(idx, tn, td)),
      call("jaccard(docs)")((tn, td) =>
        Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 2, tn, td)),
      call("incrementalJaccard")((tn, td) =>
        Dedup.incrementalJaccardJoin(idx, docs, "doc_id", "text", tn, td)),
      call("incrementalContainment")((tn, td) =>
        Dedup.incrementalContainmentJoin(idx, docs, "doc_id", "text", tn, td)),
      call("incrementalCosine")((tn, td) =>
        Dedup.incrementalCosineJoin(idx, docs, "doc_id", "text", tn, td)),
      call("candidates")((tn, td) =>
        Dedup.candidates(Dedup.Jaccard, idx, idx, tn, td))
    ) ++ Seq(Dedup.Jaccard, Dedup.Containment, Dedup.Cosine).map { m =>
      call(s"probeRows($m)")((tn, td) => Dedup.probeRows(m, idx, tn, td))
    }
    for ((name, f) <- calls; (tn, td) <- Seq((3, 2), (0, 5)))
      withClue(s"$name at $tn/$td: ") {
        an[IllegalArgumentException] should be thrownBy f(tn, td)
      }
  }

  test("hammingPairs ≡ brute-force XOR-popcount at dist = maxDist and maxDist + 1") {
    val rnd = new scala.util.Random(77)
    // each base word gets variants at 0..6 flipped bits, bit 63 among the
    // flips of every other base, so pairs sit on both sides of the radius
    def flips(x: Long, k: Int, top: Boolean, bits: Int): Long = {
      val pos =
        if (top && k > 0) (bits - 1) :: rnd.shuffle((0 until bits - 1).toList).take(k - 1)
        else rnd.shuffle((0 until bits).toList).take(k)
      pos.foldLeft(x)((h, b) => h ^ (1L << b))
    }
    for ((bits, maxDist) <- Seq((64, 2), (64, 4), (16, 2))) {
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val rows = (0 until 24).flatMap { i =>
        val x = rnd.nextLong() & mask
        (0 to 6).map(k => (i * 10L + k, flips(x, k, i % 2 == 0, bits)))
      }
      val sig = rows.toDF("id", "h")
      val want = (for {
        (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
        dist = java.lang.Long.bitCount(ha ^ hb).toLong
        if dist <= maxDist
      } yield (ia, ib, dist)).toSet
      def pairs(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
        Dedup.hammingPairs(a, b, col("id"), col("h"), bits, maxDist)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"$bits bits, maxDist $maxDist: ") {
        // (maxDist + 1) does not divide 64 or 16 for these radii
        bits % (maxDist + 1) should not be 0
        rows.exists(_._2 < 0) shouldBe (bits == 64) // bit 63 set somewhere
        // the planted radius edge: base vs its maxDist and maxDist+1 variants
        want.map(p => (p._1, p._2)) should contain((0L, maxDist.toLong))
        want.map(p => (p._1, p._2)) should not contain ((0L, maxDist + 1L))
        val self = pairs(sig, sig)
        self shouldBe want
        // the probe of the signature against itself (a distinct relation,
        // so no self-pair rule) holds each pair both ways and every id with
        // itself; restricted to doc_a < doc_b it is the self-join
        val probe = pairs(sig, rows.toDF("id", "h"))
        probe.filter(p => p._1 < p._2) shouldBe self
        probe.count(p => p._1 == p._2) shouldBe rows.size
      }
    }
  }
}
