package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Scratch

/** [X] edit-distance similarity joins (PassJoin segment pigeonhole) vs a
  * brute-force `levenshtein` cross join — over a k grid, including the
  * short-string (`len <= k`) path and every segment-boundary residue
  * (`L mod (k+1)` in 0..k appears in the length mix by construction).
  */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  // Deterministic word soup over a 3-letter alphabet: lots of near-pairs.
  // Lengths 0..14 cover every L mod (k+1) residue for k in 1..4, the
  // short path (len <= k), the exact boundary (len = k+1), and the short
  // path's partner bound (len = 2k+1).
  private val strings: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val alpha = "abc"
    (0L until 160L).map { id =>
      val len = rnd.nextInt(15)
      id -> Array.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    }
  }
  private lazy val df = strings.toDF("id", "s")

  private def brute(data: DataFrame, k: Int): Set[(Long, Long, Int)] =
    data.alias("a").join(data.alias("b"), col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
      .filter(col("dist") <= k)
      .select(col("a.id"), col("b.id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  for (k <- 1 to 4)
    test(s"editDistanceJoin == brute force at k=$k") {
      val got = Fuzzy.editDistanceJoin(df, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = brute(df, k)
      got shouldBe want
      withClue("degenerate fixture — no pairs to check:") {
        want should not be empty
      }
    }

  test("segment-boundary lengths: every residue L mod (k+1), k=3") {
    // One string per length 4..12 built so adjacent lengths are 1 edit
    // apart: prefixes of a fixed word — hits all residues of mod 4.
    val word = "abcabcabcabc"
    val pre = (4 to 12).map(l => (l.toLong, word.take(l))).toDF("id", "s")
    val got = Fuzzy.editDistanceJoin(pre, "id", "s", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    got shouldBe brute(pre, 3)
    // prefixes l and l+d are exactly d deletions apart
    got should contain ((4L, 7L, 3))
    got should not contain ((4L, 8L, 4))
  }

  test("short-string path: empty and sub-k strings pair correctly, k=2") {
    val tiny = Seq(1L -> "", 2L -> "a", 3L -> "ab", 4L -> "abcd",
      5L -> "abcde", 6L -> "zz").toDF("id", "s")
    val got = Fuzzy.editDistanceJoin(tiny, "id", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    got shouldBe brute(tiny, 2)
    got should contain ((1L, 3L, 2)) // "" vs "ab": 2 inserts, both short
    got should contain ((3L, 4L, 2)) // short vs long crossing k+1
  }

  for (k <- Seq(1, 3))
    test(s"incrementalEditDistanceJoin == brute batch×corpus at k=$k") {
      val corpus = df.filter($"id" % 4 =!= 0L)
      val batch = df.filter($"id" % 4 === 0L)
      val idx = Fuzzy.segmentIndex(corpus, "id", "s", k)
      val got = Fuzzy.incrementalEditDistanceJoin(idx, corpus, batch, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = batch.alias("a").join(corpus.alias("b"))
        .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
        .filter(col("dist") <= k)
        .select(col("a.id"), col("b.id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      got shouldBe want
      withClue("degenerate fixture — no pairs to check:") {
        want should not be empty
      }
    }

  test("editDistanceClusters: transitive closure, min-id labels, keepers") {
    // chain a~b~c (a!~c directly: dist 4) must land in ONE cluster — the
    // closure matters; d is a singleton keeper
    val docs = Seq(
      1L -> "aaaa", 2L -> "aabb", 3L -> "bbbb", 4L -> "zzzzzz"
    ).toDF("id", "s")
    val got = Fuzzy.editDistanceClusters(docs, "id", "s", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    got(1L) shouldBe ((1L, 1))
    got(2L) shouldBe ((1L, 0))
    got(3L) shouldBe ((1L, 0)) // reached only through 2
    got(4L) shouldBe ((4L, 1))
    // parity with brute-force edges + driver closure on the random corpus
    val k = 2
    val edges = brute(df, k).map(t => (t._1, t._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    strings.foreach { case (id, _) => parent(id) = id }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = strings.map { case (id, _) => id -> find(id) }.toMap
    val gotAll = Fuzzy.editDistanceClusters(df, "id", "s", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    gotAll shouldBe want
  }

  test("assignToEditClusters: min-label adoption, novel docs found their own") {
    val k = 2
    val corpus = df.filter($"id" % 4 =!= 0L)
    val batch = df.filter($"id" % 4 === 0L)
    val labels = Fuzzy.editDistanceClusters(corpus, "id", "s", k)
    val got = Fuzzy.assignToEditClusters(labels,
        Fuzzy.segmentIndex(corpus, "id", "s", k), corpus, batch, "id", "s", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // brute expectation: min corpus label among levenshtein <= k matches
    val labMap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val matches = batch.alias("a").join(corpus.alias("b"),
        levenshtein(col("a.s"), col("b.s")) <= k)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(p => labMap(p._2)).min).toMap
    val batchIds = batch.select("id").collect().map(_.getLong(0))
    val want = batchIds.map { id =>
      val cl = matches.getOrElse(id, id)
      id -> ((cl, if (cl == id) 1 else 0))
    }.toMap
    got shouldBe want
    withClue("degenerate fixture — nothing adopted:") {
      matches should not be empty
    }
  }

  test("ingestGateWithEdit: prefix near-dup fires ONLY the string signal") {
    import org.apache.spark.sql.DataFrame
    val corpus = Seq(
      (1L, "alpha beta gam w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11 k12 k13 k14")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // prefix16 "alpha beta gam q" is 1 edit from doc 1's prefix, but the
      // body shares only 2 of ~26 bigrams: jaccard and simhash stay clear
      (10L, "alpha beta gam q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"),
      (11L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14")  // novel
    ).toDF("doc_id", "text")
    def keyed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      substring(col("text"), 1, 16).as("__p"))
    val gate = Dedup.ingestGateWithEdit(
      Dedup.gramIndex(corpus, "doc_id", "text", n = 2),
      Dedup.simHash64Signature(corpus, "doc_id", "text"),
      corpus,
      Fuzzy.segmentIndex(keyed(corpus), "doc_id", "__p", 2),
      keyed(corpus).select(col("doc_id"), col("__p")),
      keyed(batch), "doc_id", "text", "__p", k = 2)
    val byId = gate.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("jac_dup"),
        r.getAs[Boolean]("sh_dup"), r.getAs[Boolean]("ed_dup"),
        r.getAs[Boolean]("admit")))).toMap
    byId(10L) shouldBe ((false, false, false, true, false))
    byId(11L) shouldBe ((false, false, false, false, true))
  }

  test("incremental index survives an IndexStore round-trip") {
    Scratch.withTempDir("fuzzyidx") { d =>
      val tmp = d.toString
      val corpus = df.filter($"id" % 4 =!= 0L)
      val batch = df.filter($"id" % 4 === 0L)
      IndexStore.writeSegmentIndex(
        Fuzzy.segmentIndex(corpus, "id", "s", 2), corpus, 2, tmp)
      val (loadedIdx, loadedCorpus, k) = IndexStore.loadSegmentIndex(spark, tmp)
      k shouldBe 2
      val got = Fuzzy.incrementalEditDistanceJoin(
          loadedIdx, loadedCorpus, batch, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val idx = Fuzzy.segmentIndex(corpus, "id", "s", 2)
      val direct = Fuzzy.incrementalEditDistanceJoin(idx, corpus, batch, "id", "s", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      got shouldBe direct
      direct should not be empty
    }
  }

  test("sortedNeighborhoodJoin ≡ naive sorted-window reference; window bound is the contract") {
    // keys engineered so near keys cluster lexically and prefix buckets
    // ("aa".."ac") split mid-neighborhood — exercising the two-phase rank
    val rows = Seq(
      (1L, "aaron smith"), (2L, "aaron smyth"), (3L, "aarons mith"),
      (4L, "abby jones"), (5L, "abbyjones"), (6L, "acme corp"),
      (7L, "acme c0rp"), (8L, "zz distant"), (9L, "aaron smith"),
      (10L, "abyy jones")
    )
    val df = rows.toDF("id", "k")
    for (w <- Seq(3, 8); k <- Seq(1, 2)) {
      val ranked = rows.sortBy { case (id, key) => (key, id) }.zipWithIndex
      val naive = (for {
        (a, ra) <- ranked; (b, rb) <- ranked
        if rb > ra && rb - ra <= w - 1
        d = {
          // driver-side Levenshtein
          val (s, t) = (a._2, b._2)
          val dp = Array.tabulate(s.length + 1)(i => Array.tabulate(t.length + 1) {
            j => if (i == 0) j else if (j == 0) i else 0 })
          for (i <- 1 to s.length; j <- 1 to t.length)
            dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
              dp(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
          dp(s.length)(t.length)
        }
        if d <= k
      } yield (a._1, b._1, d.toLong)).toSet
      val got = Fuzzy.sortedNeighborhoodJoin(df, "id", "k", w, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"window $w k $k:") { got shouldBe naive }
    }
    // the heuristic contract: with a tiny window, the exact-dup pair
    // (1, 9) is present (adjacent ranks) but far-sorted pairs never are
    val tight = Fuzzy.sortedNeighborhoodJoin(df, "id", "k", 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    tight should contain((1L, 9L))
    tight.exists { case (a, b) => a == 8L || b == 8L } shouldBe false
  }
}
