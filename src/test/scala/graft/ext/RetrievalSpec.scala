package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Graph
import graft.queries.Scratch

/** [X] retrieval & structure ops: BM25, slice KL, BFS, PQ-ANN. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark shuffle join spark spark"),
    (1L, "spark merge"),
    (2L, "merge merge merge sort sort"),
    (3L, "sort table window window agg")
  ).toDF("doc_id", "text")

  test("bm25TopK: hand-computed score on a tiny corpus, matching docs only") {
    val top = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // doc 3 contains neither term → absent
    top.map(_._1).toSet shouldBe Set(0L, 1L, 2L)
    top.map(_._3).toSeq shouldBe (1 to top.length)
    // hand BM25 for doc 1 (both terms, tf=1, dl=2, avgdl=17/4, N=4,
    // df(spark)=2, df(merge)=2): idf = ln(1 + 2.5/2.5) = ln 2
    val idf = math.log(2.0)
    val tfn = 2.2 / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 2 / 4.25))
    val expected1 = BigDecimal(2 * (BigDecimal(idf * tfn)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    top.find(_._1 == 1L).get._2 shouldBe expected1 +- 1e-9
  }

  test("scoreBatchBm25: hand-computed score under FROZEN corpus stats") {
    // Corpus = docs 0-3 (N=4, avgdl=17/4, df(spark)=2, df(merge)=2);
    // batch doc 10 "spark merge" has the same shape as corpus doc 1, so
    // its per-term idf/tf/dl numbers match the bm25TopK hand computation.
    val stats = Retrieval.bm25Stats(docs, "doc_id", "text")
    val batch = Seq((10L, "spark merge"), (11L, "sortless wordless"))
      .toDF("doc_id", "text")
    val out = Retrieval.scoreBatchBm25(stats, batch, "doc_id", "text",
      Seq("spark", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.keySet shouldBe Set(10L) // doc 11 matches no query term
    val idf = math.log(2.0)
    val tfn = 2.2 / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 2 / 4.25))
    val expected = BigDecimal(2 * (BigDecimal(idf * tfn)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out(10L) shouldBe expected +- 1e-9
  }

  test("scoreBatchBm25: df is FROZEN — batch content cannot perturb it; " +
      "unseen terms take df = 0") {
    val stats = Retrieval.bm25Stats(docs, "doc_id", "text")
    // a batch full of 'spark' repetitions scores under the corpus df(spark)=2,
    // identically whether the batch has 1 doc or many
    val one = Retrieval.scoreBatchBm25(stats,
      Seq((10L, "spark merge")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("spark", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val many = Retrieval.scoreBatchBm25(stats,
      (Seq((10L, "spark merge")) ++ (20L to 40L).map(i => (i, "spark spark")))
        .toDF("doc_id", "text"),
      "doc_id", "text", Seq("spark", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    many(10L) shouldBe one(10L)
    // term absent from the frozen vocabulary: df=0 → the maximal Lucene
    // idf ln(1 + (N+0.5)/0.5) = ln(10) at N=4, with tf=1, dl=1
    val novel = Retrieval.scoreBatchBm25(stats,
      Seq((50L, "quantization")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("quantization"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tfn0 = 2.2 / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 1 / 4.25))
    val exp0 = BigDecimal((BigDecimal(math.log(10.0) * tfn0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    novel(50L) shouldBe exp0 +- 1e-9
  }

  test("prfExpandedBm25: expansion retrieves docs sharing NO seed term") {
    // "alpha" docs consistently co-occur with "bridge"; doc 10 has only
    // "bridge" — invisible to the seed query, reachable via expansion.
    val corpus = Seq(
      (0L, "alpha bridge common common"),
      (1L, "alpha bridge common filler"),
      (2L, "alpha bridge extra filler"),
      (10L, "bridge bridge other words"),
      (11L, "unrelated noise tokens here"),
      (12L, "more unrelated noise text")
    ).toDF("doc_id", "text")
    val seedOnly = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq("alpha"), k = 10).collect().map(_.getLong(0)).toSet
    seedOnly shouldBe Set(0L, 1L, 2L) // doc 10 invisible to the seed
    val expanded = Retrieval.prfExpandedBm25(corpus, "doc_id", "text",
      Seq("alpha"), kFb = 3, mExp = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // "bridge" (in every feedback doc) gets mined; doc 10 now surfaces
    expanded.map(_._1) should contain(10L)
    // the unrelated docs share neither seed nor expansion vocabulary...
    expanded.map(_._1) should contain noneOf(11L, 12L)
    // ...and ranks are a clean 1..n on the (score desc, id) order
    expanded.sortBy(_._3).map(_._3).toSeq shouldBe (1 to expanded.length)
    // deterministic: a second run returns the identical table
    Retrieval.prfExpandedBm25(corpus, "doc_id", "text",
      Seq("alpha"), kFb = 3, mExp = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .toSeq shouldBe expanded.toSeq
  }

  test("prfExpandedBm25: kFb beyond the bounded-window contract fails loudly") {
    // the expansion rank is a single global window over the feedback
    // docs' vocabulary — bounded only while kFb is small, so the cap is
    // a require, not a comment
    val corpus = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Retrieval.prfExpandedBm25(corpus, "doc_id", "text",
        Seq("a"), kFb = 65, mExp = 2, k = 5)
  }

  test("hardNegatives: the rank band below the positives, per topic") {
    // topic "x": docs 0,1 dominate (both terms), docs 2,3 match weakly
    val corpus = Seq(
      (0L, "spark spark shuffle shuffle pad"),
      (1L, "spark shuffle pad pad pad"),
      (2L, "spark pad pad pad pad"),
      (3L, "shuffle pad pad pad pad"),
      (4L, "nothing relevant here at all")
    ).toDF("doc_id", "text")
    val mined = Retrieval.hardNegatives(corpus, "doc_id", "text",
      Map("x" -> Seq("spark", "shuffle")), pPos = 2, kNeg = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    // positives (ranks 1-2: the dominating docs) are EXCLUDED; the band
    // holds only the lexically-close weak matchers; non-matchers absent
    mined.map(_._2).toSet shouldBe Set(2L, 3L)
    mined.map(_._3).toSet shouldBe Set(3, 4)
    // full ranking cross-check: the band is exactly ranks p+1..p+k of
    // the topic's BM25 order
    val full = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "shuffle"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    mined.foreach { case (_, id, rnk) => full(id) shouldBe rnk }
  }

  test("bm25TopK: a doc saturated in one term scores below one matching both") {
    val top = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "merge"), k = 1).collect()
    top.head.getLong(0) shouldBe 1L // two-term match beats tf-saturation
  }

  test("sliceTokenKl: identical slices diverge zero, skewed slice positive") {
    val d = Seq(
      ("a", "x y"), ("a", "x y"),
      ("b", "x y"), ("b", "x y")
    ).toDF("src", "text")
    val kl = TextAnalysis.sliceTokenKl(d, "src", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    kl("a") shouldBe 0.0 +- 1e-9
    kl("b") shouldBe 0.0 +- 1e-9

    val skewed = Seq(("a", "x x x x"), ("b", "x y y y")).toDF("src", "text")
    val kl2 = TextAnalysis.sliceTokenKl(skewed, "src", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    kl2("a") should be > 0.0
    kl2("b") should be > 0.0
  }

  test("sliceTokenKl: n_tok counts slice tokens; cross_entropy ≥ corpus entropy") {
    val d = Seq(("a", "x x y"), ("b", "y z")).toDF("src", "text")
    val rows = TextAnalysis.sliceTokenKl(d, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    rows("a").getLong(3) shouldBe 3L
    rows("b").getLong(3) shouldBe 2L
    // H(P_s, P_c) = H(P_s) + KL(P_s ‖ P_c) ≥ 0, and ≥ KL
    rows.values.foreach { r => r.getDouble(2) should be >= r.getDouble(1) }
  }

  private val chainEdges = Seq(
    // 1 — 2 — 3 — 4 — 5 chain plus branch 2 — 10; 99 isolated via 6—7
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L), (6L, 7L)
  ).flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")

  test("bfsHops: exact min-hop levels, bounded depth, unreachable absent") {
    val hops = Graph.bfsHops(chainEdges, "src", "dst", Seq(1L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    hops shouldBe Map(1L -> 0, 2L -> 1, 3L -> 2, 10L -> 2, 4L -> 3)
    // node 5 is 4 hops out (beyond bound); 6/7 are disconnected
  }

  test("bfsHops: multi-seed takes the nearer seed's hop count") {
    val hops = Graph.bfsHops(chainEdges, "src", "dst", Seq(1L, 5L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    hops(2L) shouldBe 1 // from seed 1
    hops(4L) shouldBe 1 // from seed 5
    hops(3L) shouldBe 2 // equidistant from both seeds
  }

  test("weightedSssp: takes the cheap detour over the heavy direct edge") {
    // 1→2 costs 5 direct, but 1→3→2 costs 2; 2→4 extends the cheap path.
    val edges = Seq(
      (1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L), (6L, 7L, 1L)
    ).flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val dist = Graph.weightedSssp(edges, "src", "dst", "w", Seq(1L), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dist shouldBe Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 3L)
    // 6/7 disconnected → absent
  }

  test("weightedSssp: hop bound is 'min weight over ≤h-edge paths'") {
    val edges = Seq(
      (1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L)
    ).toDF("src", "dst", "w")
    // One hop: only the direct (heavy) edge to 2 is visible.
    val d1 = Graph.weightedSssp(edges, "src", "dst", "w", Seq(1L), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d1 shouldBe Map(1L -> 0L, 2L -> 5L, 3L -> 1L)
    // Two hops: the detour beats it; 4 appears via the heavy prefix.
    val d2 = Graph.weightedSssp(edges, "src", "dst", "w", Seq(1L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d2 shouldBe Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 6L)
  }

  test("weightedSssp: multi-seed takes the cheaper source") {
    val edges = Seq((1L, 2L, 10L), (5L, 4L, 1L), (4L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val dist = Graph.weightedSssp(edges, "src", "dst", "w",
      Seq(1L, 5L), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dist(2L) shouldBe 3L // via seed 5's chain, not seed 1's direct edge
  }

  test("hits ≡ driver reference with the same rounding; star authority dominates") {
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // hubs 1..4 all point to part 10; hubs 1,2 also to 11; hub 1 to 12
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (1L, 11L), (2L, 11L), (1L, 12L))
    val got = Graph.hits(edges.toDF("s", "t"), "s", "t", iters = 3)
      .collect().map(x => (x.getLong(0), x.getString(2)) -> x.getDouble(1))
      .toMap
    // driver reference: identical round-12/DECIMAL-sum/round-9 pipeline
    val hubs = edges.map(_._1).distinct.sorted
    val auths = edges.map(_._2).distinct.sorted
    var h = hubs.map(_ -> 1.0 / hubs.size).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 3) {
      val aRaw = auths.map(p => p -> edges.filter(_._2 == p)
        .map(e => BigDecimal(r(h(e._1), 12))).sum).toMap
      val aT = aRaw.values.sum
      a = aRaw.map { case (k, v) => k -> r(v.toDouble / aT.toDouble, 9) }
      val hRaw = hubs.map(s => s -> edges.filter(_._1 == s)
        .map(e => BigDecimal(r(a(e._2), 12))).sum).toMap
      val hT = hRaw.values.sum
      h = hRaw.map { case (k, v) => k -> r(v.toDouble / hT.toDouble, 9) }
    }
    hubs.foreach(s => got((s, "hub")) shouldBe r(h(s), 6))
    auths.foreach(p => got((p, "auth")) shouldBe r(a(p), 6))
    // structure: the all-in-degree part is the top authority, the
    // broadest supplier the top hub
    got((10L, "auth")) should be > got((11L, "auth"))
    got((11L, "auth")) should be > got((12L, "auth"))
    got((1L, "hub")) should be > got((4L, "hub"))
  }

  test("labelPropagation: bridged cliques keep distinct communities") {
    // two K4s (1–4, 11–14) joined by one bridge edge 4–11: connectivity
    // would merge them; density-driven LPA must not
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val df = (k4a ++ k4b :+ (4L, 11L)).toDF("s", "t")
    val lab = Graph.labelPropagation(df, "s", "t", rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 4L).map(lab).toSet.size shouldBe 1
    (11L to 14L).map(lab).toSet.size shouldBe 1
    lab(1L) should not be lab(11L)
  }

  test("labelPropagation ≡ driver-side synchronous reference") {
    val edges = (for {
      a <- 0L until 20L; b <- (a + 1) until 20L
      if (a * 11 + b * 3) % 6 == 0
    } yield (a, b)).toSeq
    val nbrs = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var ref = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      ref = nbrs.map { case (n, ns) =>
        val counts = ns.map(ref).groupBy(identity).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    Graph.labelPropagation(edges.toDF("s", "t"), "s", "t", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe ref
  }

  test("kCore: cascading peel — a path's 2-core is empty, a cycle survives") {
    // path 1-2-3-4-5: every round exposes a new endpoint; the 2-core is
    // empty only if the peel truly iterates to fixpoint
    val path = (1L to 4L).map(i => (i, i + 1)).toDF("s", "t")
    Graph.kCore(path, "s", "t", k = 2).count() shouldBe 0L
    // cycle 1..5 with a tail 5-9-10: the 2-core is exactly the cycle
    val cyc = ((1L to 4L).map(i => (i, i + 1)) ++
      Seq((5L, 1L), (5L, 9L), (9L, 10L))).toDF("s", "t")
    val core = Graph.kCore(cyc, "s", "t", k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    core.keySet shouldBe (1L to 5L).toSet
    core.values.toSet shouldBe Set(2L)
  }

  test("kCore ≡ driver-side peel reference across k") {
    val edges = for {
      a <- 0L until 22L; b <- (a + 1) until 22L
      if (a * 13 + b * 7) % 4 == 0
    } yield (a, b)
    val df = edges.toDF("s", "t")
    for (k <- Seq(2, 3, 4, 5)) {
      var es = edges.toSet
      var done = false
      while (!done) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val bad = deg.filter(_._2 < k).keySet
        if (bad.isEmpty) done = true
        else es = es.filter(e => !bad(e._1) && !bad(e._2))
      }
      val refDeg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      Graph.kCore(df, "s", "t", k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe refDeg
    }
  }

  test("triangleStats: known shapes — clique saturates, star has none") {
    // K4 on 1..4 plus a pendant 5–1: every clique node sits in 3 triangles
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val df = (k4 :+ (5L, 1L)).toDF("s", "t")
    val got = Graph.triangleStats(df, "s", "t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    got(1L) shouldBe ((4L, 3L, 0.5)) // deg 4 incl. pendant: 2·3/(4·3)
    got(2L) shouldBe ((3L, 3L, 1.0))
    got(5L) shouldBe ((1L, 0L, 0.0)) // pendant: deg < 2 → lcc 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "t")
    Graph.triangleStats(star, "s", "t").collect()
      .map(_.getLong(2)).sum shouldBe 0L
  }

  test("triangleStats ≡ brute force; duplicates/self-loops/orientations tolerated") {
    // deterministic pseudo-random graph on 24 nodes
    val edges = for {
      a <- 0L until 24L; b <- (a + 1) until 24L
      if (a * 31 + b * 17) % 5 == 0
    } yield (a, b)
    // feed it messy: both orientations, duplicates, self-loops
    val messy = (edges ++ edges.map(_.swap) ++ Seq((3L, 3L), (7L, 7L)))
      .toDF("s", "t")
    val got = Graph.triangleStats(messy, "s", "t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val eset = edges.toSet
    def adj(a: Long, b: Long) = eset((math.min(a, b), math.max(a, b)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach { v =>
      val nbrs = nodes.filter(u => u != v && adj(u, v))
      val tri = (for {
        i <- nbrs.indices; j <- (i + 1) until nbrs.size
        if adj(nbrs(i), nbrs(j))
      } yield 1).size.toLong
      val lcc = if (nbrs.size < 2) 0.0
        else BigDecimal(2.0 * tri / (nbrs.size.toLong * (nbrs.size - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got(v) shouldBe ((nbrs.size.toLong, tri, lcc))
    }
  }

  /** Driver-side reference of `Graph.pageRank`, mirroring its rounding
    * discipline exactly (HALF_UP at 12 for contributions, exact BigDecimal
    * sum, HALF_UP at 9 for the new rank, HALF_UP at 6 on output).
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val contrib = scala.collection.mutable.Map[Long, BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      for ((u, v) <- es)
        contrib(v) += BigDecimal(r(u) / out(u))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      r = nodes.map { v =>
        v -> BigDecimal((1 - d) / n + d * contrib(v).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r.map { case (k, x) =>
      k -> BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  test("pageRank: exact vs the driver-side reference; hub outranks leaves") {
    // deterministic pseudo-random digraph: 12 nodes, node 0 is a hub
    val rnd = new scala.util.Random(17)
    val edges = (0 until 30).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b } ++
      (1L to 11L).map(i => (i, 0L)) // every node links the hub
    val df = edges.toDF("src", "dst")
    val got = Graph.pageRank(df, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = refPageRank(edges, 4)
    got.keySet shouldBe expect.keySet
    for ((k, v) <- expect) got(k) shouldBe v +- 1e-12
    // the hub received every node's link: top rank
    got.maxBy(_._2)._1 shouldBe 0L
  }

  test("pageRank: symmetric graph conserves mass (Σpr ≈ 1), 2-cycle is uniform") {
    val sym = Seq((1L, 2L), (2L, 3L), (3L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val pr = Graph.pageRank(sym, "src", "dst", iters = 5)
      .collect().map(_.getDouble(1))
    pr.sum shouldBe 1.0 +- 1e-3
    // fully symmetric 3-cycle: uniform fixpoint 1/3 at every node
    pr.foreach(_ shouldBe (1.0 / 3) +- 1e-6)
  }

  test("invertedIndex: df/tf/caps from a known corpus") {
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text",
      minDf = 2L, postingCap = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toMap
    idx("spark") shouldBe ((2L, 4L, Seq(0L, 1L))) // docs 0 (tf 3) and 1 (tf 1)
    idx("merge") shouldBe ((2L, 4L, Seq(1L, 2L)))
    idx("sort") shouldBe ((2L, 3L, Seq(2L, 3L)))
    idx.keySet should not contain "shuffle" // df 1 < minDf
  }

  test("encodeTokenIds: rank order, OOV as 0, position order preserved") {
    val enc = Retrieval.encodeTokenIds(docs, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    // freq: spark 4, merge 4, sort 3 … ties broken by token asc → merge=1, spark=2
    enc(0L) shouldBe ((Seq(2L, 0L, 0L, 2L, 2L), 2L))
    enc(1L) shouldBe ((Seq(2L, 1L), 0L))
    enc(2L) shouldBe ((Seq(1L, 1L, 1L, 0L, 0L), 2L))
  }

  test("ngramNovelty: first owner scores 1, exact duplicate scores 0") {
    val d = Seq((0L, "a b c d"), (1L, "a b c d"), (2L, "x y b c"))
      .toDF("doc_id", "text")
    val nov = TextAnalysis.ngramNovelty(d, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    nov(0L) shouldBe ((3L, 1.0))
    nov(1L) shouldBe ((3L, 0.0)) // every bigram first seen in doc 0
    nov(2L) shouldBe ((3L, 0.666667)) // "b c" seen, "x y"/"y b" new (round 6)
  }

  test("winsorize clips to per-group percentile bounds") {
    val d = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val w = graft.ops.Profile.winsorize(d, "grp", "v", 0.10, 0.90)
      .select($"v", $"clipped").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    w(1.0) shouldBe 10.9 +- 1e-9   // p10 of 1..100 (interpolated)
    w(100.0) shouldBe 90.1 +- 1e-9 // p90
    w(50.0) shouldBe 50.0 +- 1e-9  // interior untouched
  }

  test("partitioned write prunes partitions at read (plan-level)") {
    Scratch.withTempDir("part_spec_") { tmp =>
      val dir = tmp.toString
      Seq((0L, "en"), (1L, "de"), (2L, "en"), (3L, "fr"))
        .toDF("id", "lang").write.partitionBy("lang").mode("overwrite")
        .parquet(dir)
      val pruned = spark.read.parquet(dir).filter($"lang" === "en")
      val scan = pruned.queryExecution.executedPlan.collectLeaves().head
        .toString()
      // partition predicate must land in PartitionFilters, not PushedFilters
      scan should include regex "PartitionFilters: \\[.*lang.*\\]"
      pruned.count() shouldBe 2
    }
  }

  test("dsirLogRatio: target-like docs score above off-target docs") {
    val d = Seq(
      (0L, "alpha beta alpha beta", "target"),
      (1L, "alpha beta gamma", "other"),   // mixed
      (2L, "delta delta gamma", "other")   // disjoint from target
    ).toDF("doc_id", "text", "grp")
    val scores = TextAnalysis.dsirLogRatio(d, "doc_id", "text",
      col("grp") === "target")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    scores(0L) should be > scores(1L)
    scores(1L) should be > scores(2L)
    scores(2L) should be < 0.0 // off-target mass only
  }

  test("PqIndex: ADC shortlist + exact re-rank recovers the exact top-k") {
    // 40 deterministic 8-dim vectors in two well-separated clusters.
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(j => base * (1.0f + 0.01f * ((i + j) % 5))))
    }.toDF("vec_id", "embedding")
    val model = PqIndex.build(vecs, "embedding", "vec_id", m = 4, ksub = 4)
    val q = Array.fill(8)(1.0)
    val got = PqIndex.search(model, q, "vec_id", k = 5)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id",
      Seq(q).toDF("qv").select($"qv"), 5).collect().map(_.getLong(0)).toSet
    got shouldBe exact // separated clusters → PQ recall 1.0
    model.encoded.select("codes").head().getSeq[Int](0).length shouldBe 4
  }

  test("maxSimTopK ≡ driver brute force; exact-match term dominates") {
    val docs = Seq(
      (1L, "join hash window spark"), // contains every query term
      (2L, "join join join filter"), // one term, repeated (max unaffected)
      (3L, "totally unrelated words here"),
      (4L, "hash join sort merge shuffle")
    ).toDF("doc_id", "text")
    val terms = Seq("join", "hash")
    val got = Retrieval.maxSimTopK(docs, "doc_id", "text", terms, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // driver brute force with the same hash/component formulas
    def h(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (md.filter(_.isDigit) + "00000000").take(8).toLong
    }
    val P = TextHash.P
    def comps(x: Long): Seq[Long] =
      TextHash.Seeds.map { case (a, b) => (x * a + b) % P - P / 2 }
    def dot(a: String, b: String): Long =
      comps(h(a)).zip(comps(h(b))).map { case (x, y) => x * y }.sum
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val exp = rows.map { case (id, text) =>
      val toks = text.split(" ").toSeq
      id -> terms.flatMap(q =>
        toks.map(t => dot(q, t)).maxOption).sum
    }.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
    got.toSeq shouldBe exp
    // a doc containing a term verbatim scores that term at |v|² — the max
    // possible for it — so doc 1 (all terms verbatim) must rank first
    got.head._1 shouldBe 1L
  }

  test("maxSimRoute: verbatim-term docs route to their topic; one row per doc") {
    val docs = Seq(
      (1L, "join hash merge sort"), // both analytics terms verbatim
      (2L, "window batch stream state"), // both streaming terms verbatim
      (3L, "scan table files parquet") // both storage terms verbatim
    ).toDF("doc_id", "text")
    val topics = Map(
      "analytics" -> Seq("join", "hash"),
      "streaming" -> Seq("window", "batch"),
      "storage" -> Seq("scan", "table"))
    val got = Retrieval.maxSimRoute(docs, "doc_id", "text", topics)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // a verbatim term scores |v|² (the max possible), so a doc carrying
    // BOTH of a topic's terms verbatim must route there
    got shouldBe Map(1L -> "analytics", 2L -> "streaming", 3L -> "storage")
    Retrieval.maxSimRoute(docs, "doc_id", "text", topics)
      .groupBy("doc_id").count().collect()
      .foreach(_.getLong(1) shouldBe 1L) // argmax: exactly one row per doc
  }

  test("rankingMetrics: perfect ranking gets nDCG 1, hand-computed partial case") {
    val qrels = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("doc_id", "grade")
    // perfect system: ranks exactly the ideal order
    val perfect = Seq(("s1", 1L, 1), ("s1", 2L, 2), ("s1", 3L, 3))
      .toDF("system", "doc_id", "rnk")
    val p = Retrieval.rankingMetrics(perfect, qrels, k = 3).head()
    p.getAs[Double]("ndcg") shouldBe 1.0
    p.getAs[Double]("p_at_k") shouldBe 1.0
    p.getAs[Double]("mrr") shouldBe 1.0
    // partial system: one relevant doc at rank 2, irrelevant elsewhere
    val partial = Seq(("s2", 99L, 1), ("s2", 2L, 2), ("s2", 98L, 3))
      .toDF("system", "doc_id", "rnk")
    val r = Retrieval.rankingMetrics(partial, qrels, k = 3).head()
    def t(g: Long, rk: Int): BigDecimal = BigDecimal(
      math.round(g / (math.log(rk + 1.0) / math.log(2.0)) * 1e9)) / BigDecimal(1e9)
    val idcg = t(3, 1) + t(2, 2) + t(1, 3)
    val expected = BigDecimal((t(2, 2) / idcg).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    r.getAs[Double]("ndcg") shouldBe expected
    r.getAs[Double]("p_at_k") shouldBe
      BigDecimal(1.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    r.getAs[Double]("mrr") shouldBe 0.5
    // no relevant hits at all → all three metrics zero
    val zero = Seq(("s3", 99L, 1)).toDF("system", "doc_id", "rnk")
    val z = Retrieval.rankingMetrics(zero, qrels, k = 3).head()
    z.getAs[Double]("ndcg") shouldBe 0.0
    z.getAs[Double]("p_at_k") shouldBe 0.0
    z.getAs[Double]("mrr") shouldBe 0.0
  }
}
