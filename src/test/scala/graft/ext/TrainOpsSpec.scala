package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.Scratch

/** [X] training-data pipeline operators: near-dup clustering (connected
  * components), deterministic sampling/splits, shard packing, quality
  * flags, word masking.
  */
class TrainOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels each component by its min node (both paths)") {
    // Two components {1,2,3,7} (chain) and {10,11}; 20 isolated.
    val edges = Seq((2L, 1L), (3L, 2L), (7L, 3L), (11L, 10L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 7L, 10L, 11L, 20L).toDF("node")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    // Default: below the threshold → driver-local union-find.
    DedupCluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
    // localThreshold = 0 forces the distributed loop; same labels.
    DedupCluster.connectedComponents(nodes, edges, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // A 64-node chain has diameter 63; naive propagation would need 63
    // rounds — pointer jumping must finish within the 25-round cap.
    // localThreshold = 0 pins the distributed loop (the default would
    // solve this small graph on the driver).
    val edges = (1L until 64L).map(i => (i + 1, i)).toDF("src", "dst")
    val nodes = (1L to 64L).toDF("node")
    val labels = DedupCluster.connectedComponents(nodes, edges, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    all(labels.values) shouldBe 1L
  }

  test("local and distributed CC agree on a random graph (property)") {
    val rnd = new scala.util.Random(42)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .toDF("src", "dst")
    val nodes = (0L until 120L).toDF("node")
    val local = DedupCluster.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val looped = DedupCluster.connectedComponents(nodes, edges, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    local shouldBe looped
  }

  test("contractStars preserves components and the component minimum") {
    // Chain 1←2←3←7 (as dst<src star edges) plus {10,11}: after one
    // contraction, CC on the contracted graph + parent expansion must
    // reproduce exactly the uncontracted labels.
    val edges = Seq((2L, 1L), (3L, 2L), (7L, 3L), (11L, 10L))
      .toDF("src", "dst")
    val (parents, cEdges) = DedupCluster.contractStars(edges)
    val p = parents.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    p(2L) shouldBe 1L
    p(3L) shouldBe 2L
    p(7L) shouldBe 3L
    p(11L) shouldBe 10L
    // Component minima (1, 10) are never srcs → never remapped.
    p.keySet should not contain 1L
    p.keySet should not contain 10L
    // Contracted edges keep the dst<src orientation and shrink the chain.
    cEdges.collect().foreach(r => r.getLong(1) should be < r.getLong(0))
    val cNodes = cEdges.select(col("src").as("node"))
      .unionByName(cEdges.select(col("dst").as("node"))).distinct()
    val cc = DedupCluster.connectedComponents(cNodes, cEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Expansion: every original node lands on its component min.
    Seq(2L, 3L, 7L).foreach { v =>
      cc.getOrElse(p(v), p(v)) shouldBe 1L
    }
    cc.getOrElse(p(11L), p(11L)) shouldBe 10L
  }

  test("dedupClusters: exact dups cluster together under min-id keeper") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (5L, "totally unrelated text about query engines and columnar scans")
    ).toDF("doc_id", "text")
    val out = DedupCluster.dedupClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    out(1L) shouldBe ((1L, 1))
    out(2L) shouldBe ((1L, 0))
    out(5L)._2 shouldBe 1 // own cluster → keeper
  }

  test("assignToClusters: adopt / bridge-min / novel-founds-own; ≡ recluster when no bridge") {
    val docA = "the quick brown fox jumps over the lazy dog"
    val docB = "totally unrelated text about query engines and columnar scans"
    val docC = "a third corpus family concerning raster tiles and mercator math"
    val corpus = Seq(
      (1L, docA), (2L, docA),       // cluster 1
      (5L, docB), (6L, docB),       // cluster 5
      (9L, docC)                    // singleton cluster 9
    ).toDF("doc_id", "text")
    val labels = DedupCluster.dedupClusters(corpus, "doc_id", "text")
      .localCheckpoint()
    val bandRows = Dedup.corpusBandRows(corpus, "doc_id", "text",
      Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3"))).localCheckpoint()
    // batch ids are LARGER than every corpus id, so a full recluster keeps
    // corpus labels and the online assignment must reproduce it exactly
    // for non-bridging docs
    val batch = Seq(
      (100L, docA),                               // adopts cluster 1
      (101L, docB),                               // adopts cluster 5
      (102L, "entirely novel content about streaming watermarks tonight")
    ).toDF("doc_id", "text")
    val got = DedupCluster.assignToClusters(labels, bandRows, batch,
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    got(100L) shouldBe ((1L, 0))
    got(101L) shouldBe ((5L, 0))
    got(102L) shouldBe ((102L, 1))
    // consistency: the full recluster over corpus ∪ batch agrees on every
    // non-bridging batch doc
    val full = DedupCluster.dedupClusters(
      corpus.unionByName(batch), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, (cl, _)) => full(id) shouldBe cl }
    // a batch doc colliding with two clusters takes the min WITHOUT
    // merging them (online approximation — the full rebuild reconciles)
    val bridge = Seq((200L, docA + " " + docB)).toDF("doc_id", "text")
    val bg = DedupCluster.assignToClusters(labels, bandRows, bridge,
      "doc_id", "text").collect()
    if (bg.head.getLong(1) != 200L) {  // only if LSH actually collides both
      bg.head.getLong(1) should (be(1L) or be(5L))
    }
  }

  test("adopt: min cluster among matches, unmatched ids found their own") {
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val pairs = Seq(
      (10L, 6L), (10L, 2L), // two clusters: takes the smaller id, 1
      (11L, 6L), (11L, 5L), // two members of one cluster
      (13L, 9L)
    ).toDF("id_a", "id_b")
    val batch = Seq((10L, "x"), (11L, "y"), (12L, "z"), (13L, "w"))
      .toDF("doc_id", "text")
    val got = DedupCluster.adopt(labels, pairs, batch, "doc_id")
    got.columns.toSeq shouldBe Seq("doc_id", "cluster_id", "is_keeper")
    got.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap shouldBe Map(
        10L -> ((1L, 0)), 11L -> ((5L, 0)),
        12L -> ((12L, 1)), // no match: founds its own cluster, keeper
        13L -> ((9L, 0)))
    // the roles come from the column order, not the names
    DedupCluster.adopt(labels, pairs.toDF("doc_a", "doc_b"), batch, "doc_id")
      .collect().toSet shouldBe got.collect().toSet
  }

  test("clustersFromEdges: an uncut edge relation labels like a cut one") {
    val nodes = (1L to 12L).map(i => (i, s"d$i")).toDF("id", "s")
    // a lazy relation with its own shuffle: two chains and a triangle
    val raw = Seq((2L, 1L), (3L, 2L), (4L, 3L), (7L, 6L), (8L, 7L),
      (11L, 10L), (12L, 11L), (12L, 10L), (12L, 10L))
      .toDF("src", "dst")
    val uncut = raw.distinct().filter(col("src") =!= col("dst"))
    val cut = uncut.localCheckpoint()
    def labels(edges: org.apache.spark.sql.DataFrame, threshold: Long) =
      DedupCluster.clustersFromEdges(nodes, "id", edges, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (threshold <- Seq(100000L, 0L)) { // driver union-find, then the loop
      val got = labels(uncut, threshold)
      got shouldBe labels(cut, threshold)
      got.map(r => r._1 -> r._2).toMap shouldBe Map(
        1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L,
        7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 10L, 11L -> 10L, 12L -> 10L)
    }
  }

  test("band-star edges connect the same components as all-pairs banding") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"),
      (4L, "epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val sig = Dedup.minHashSignature(docs, "doc_id", "text")
    val star = DedupCluster.bandStarEdges(sig, "doc_id",
      Seq(Seq("mh0", "mh1"), Seq("mh2", "mh3")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3 identical docs → star edges to min member 1 only (2 edges, not 3 pairs)
    star shouldBe Set((2L, 1L), (3L, 1L))
  }

  test("connectedComponents: empty graph and idempotence on its own output") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val emptyNodes = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", LongType))))
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    DedupCluster.connectedComponents(emptyNodes, emptyEdges).count() shouldBe 0
    // a converged labeling is a fixpoint: feeding the component labels back
    // as edges (node → label) must reproduce the same labeling
    val edges = Seq((2L, 1L), (3L, 2L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val l1 = DedupCluster.connectedComponents(nodes, edges)
    val back = l1.filter($"node" =!= $"label")
      .select($"node".as("src"), $"label".as("dst"))
    val l2 = DedupCluster.connectedComponents(nodes, back)
    l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("splitAssign partitions exhaustively and exclusively (property)") {
    // every id lands in exactly one split, and bucket thresholds agree
    val ids = (-500L until 500L).toDF("id")
    val checked = ids.select($"id",
      Sampling.hashBucket($"id").as("b"), Sampling.splitAssign($"id").as("s"))
    checked.filter(
      ($"s" === "train" && $"b" >= 80) ||
        ($"s" === "val" && ($"b" < 80 || $"b" >= 90)) ||
        ($"s" === "test" && $"b" < 90)).count() shouldBe 0
    checked.filter(!$"s".isin("train", "val", "test")).count() shouldBe 0
  }

  test("packShards: shard ids non-decreasing in id order per group (property)") {
    val df = (0L until 200L).map(i => (i, s"g${i % 3}", 1L + i % 7))
      .toDF("id", "grp", "nt")
    val out = Packing.packShards(df, "id", "grp", $"nt", 20L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("id")
    out.withColumn("prev", lag("shard", 1).over(w))
      .filter($"prev".isNotNull && $"shard" < $"prev")
      .count() shouldBe 0
  }

  test("hashBucket is deterministic, in range, and roughly uniform") {
    val ids = (0L until 1000L).toDF("id")
    val b = ids.select(Sampling.hashBucket($"id").as("b"))
    val counts = b.groupBy("b").count().collect()
    counts.map(_.getLong(0)).min should be >= 0L
    counts.map(_.getLong(0)).max should be < 100L
    // every bucket within 3× of the 10-per-bucket expectation
    all(counts.map(_.getLong(1))) should be < 30L
    // re-evaluation gives identical assignment
    b.except(ids.select(Sampling.hashBucket($"id").as("b"))).count() shouldBe 0
  }

  test("splitAssign: thresholds partition and proportions are sane") {
    val ids = (0L until 1000L).toDF("id")
    val byS = ids.select(Sampling.splitAssign($"id").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byS.values.sum shouldBe 1000L
    byS("train").toDouble should be(800.0 +- 120.0)
    byS("val").toDouble should be(100.0 +- 60.0)
    byS("test").toDouble should be(100.0 +- 60.0)
  }

  test("stratifiedKeep downsamples only the targeted strata") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = df.filter(Sampling.stratifiedKeep($"id", $"lang", Map("en" -> 20)))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    kept("de") shouldBe 500L // untouched stratum
    kept("en").toDouble should be(100.0 +- 50.0)
  }

  test("packShards: offsets cut every budget tokens per group, id order") {
    val df = Seq(
      (1L, "g1", 300L), (2L, "g1", 300L), (3L, "g1", 300L), (4L, "g1", 300L),
      (10L, "g2", 600L), (11L, "g2", 100L)
    ).toDF("id", "grp", "nt")
    val out = Packing.packShards(df, "id", "grp", $"nt", 512L)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // g1 offsets: 0, 300, 600, 900 → shards 0, 0, 1, 1
    out(1L) shouldBe 0L
    out(2L) shouldBe 0L
    out(3L) shouldBe 1L
    out(4L) shouldBe 1L
    // g2 packs independently: offsets 0, 600 → shards 0, 1
    out(10L) shouldBe 0L
    out(11L) shouldBe 1L
  }

  test("spanCorrupt: lossless round-trip — splicing targets back restores the doc") {
    val docs = Seq(
      (1L, (0 until 47).map(i => s"t$i").mkString(" ")), // 2 full + 1 tail block
      (2L, "a b c"),                                     // shorter than one span window
      (3L, (0 until 20).map(i => s"u$i").mkString(" "))  // exactly one block
    ).toDF("doc_id", "text")
    val out = Packing.spanCorrupt(docs, "doc_id", "text",
      blockLen = 10, spanLen = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toMap
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (input, target, nSent, nDrop)) =>
      // the denoising contract: replacing each sentinel in the input by
      // its target span reconstructs the original token stream exactly
      val spans = target.split(" ").filter(_.nonEmpty)
        .foldLeft(List.empty[(String, List[String])]) {
        case (acc, t) if t.startsWith("<extra_id_") => (t, Nil) :: acc
        case ((s0, ts) :: rest, t) => (s0, t :: ts) :: rest
        case (Nil, t) => fail(s"target starts without a sentinel: $t")
      }.map { case (s0, ts) => s0 -> ts.reverse.mkString(" ") }.toMap
      val restored = input.split(" ").map(t => spans.getOrElse(t, t))
        .filter(_.nonEmpty).mkString(" ")
      withClue(s"doc $id: ") {
        restored shouldBe original(id)
        nSent shouldBe spans.size.toLong
        nDrop shouldBe target.split(" ").filter(_.nonEmpty)
          .count(!_.startsWith("<extra_id_"))
        // sentinels are densely numbered 0..n-1 in input order
        val sents = input.split(" ").filter(_.startsWith("<extra_id_"))
        sents.toSeq shouldBe (0 until nSent.toInt).map(k => s"<extra_id_$k>")
      }
    }
    // full blocks corrupt exactly spanLen tokens each: doc 3 has one
    // 10-token... 20-token doc = 2 blocks of 10 -> 2 sentinels, 6 dropped
    out(3L)._3 shouldBe 2L
    out(3L)._4 shouldBe 6L
  }

  test("fimTransform: PSM reassembly restores the doc; plan has no exchange") {
    val docs = Seq(
      (1L, (0 until 31).map(i => s"t$i").mkString(" ")),
      (2L, "solo"),
      (3L, (0 until 8).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fim = Packing.fimTransform(docs, "doc_id", "text")
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    fim.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val (np, nm, ns) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // parse <PRE> p... <SUF> s... <MID> m... and reassemble p+m+s
      val pre = text.indexOf("<PRE>"); val suf = text.indexOf("<SUF>")
      val mid = text.indexOf("<MID>")
      (pre, suf > pre, mid > suf) shouldBe ((0, true, true))
      def seg(from: Int, until: Int) =
        text.substring(from, until).trim.split(" ").filter(_.nonEmpty)
      val p = seg(pre + 5, suf); val sfx = seg(suf + 5, mid)
      val m = seg(mid + 5, text.length)
      withClue(s"doc $id: ") {
        (p ++ m ++ sfx).mkString(" ") shouldBe original(id)
        (p.length.toLong, m.length.toLong, sfx.length.toLong) shouldBe
          ((np, nm, ns))
        np + nm + ns shouldBe original(id).split(" ").length.toLong
      }
    }
    // the 100 TB contract: a pure projection — no exchange in the plan
    val plan = fim.queryExecution.executedPlan.toString()
    plan should not include "Exchange"
  }

  test("windowSegments: exhaustive tiling, exactly-once boundaries, straddles split") {
    // group g: docs of 100/500/30 tokens into 256-token windows — doc 20
    // straddles windows 0->2; doc 30 sits entirely inside window 2
    val df = Seq((10L, "g", 100L), (20L, "g", 500L), (30L, "g", 30L),
      (40L, "h", 600L)).toDF("id", "grp", "nt")
    val seg = Packing.windowSegments(df, "id", "grp", $"nt", 256L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    // every doc's spans sum to its token count
    val bySpan = seg.groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(t => t._5 - t._4).sum).toMap
    bySpan shouldBe Map(("g", 10L) -> 100L, ("g", 20L) -> 500L,
      ("g", 30L) -> 30L, ("h", 40L) -> 600L)
    // is_doc_start / is_doc_end fire exactly once per doc
    seg.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      rows.count(_._6) shouldBe 1
      rows.count(_._7) shouldBe 1
    }
    // windows tile without overlap: within a (grp, window), spans are
    // disjoint and ordered doc-id-consecutively
    seg.groupBy(t => (t._1, t._3)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        pair(0)._5 should be <= pair(1)._4
      }
    }
    // the straddling doc's middle window is the full budget
    seg.find(t => t._2 == 20L && t._3 == 1L).get should matchPattern {
      case ("g", 20L, 1L, 0L, 256L, false, false) =>
    }
  }

  test("qualityFlags: each rule fires independently; keep = all pass") {
    val docs = Seq(
      (1L, "short doc"), // S (2 tokens)
      (2L, ("spam " * 40).trim), // U (uniq ratio 1/40)
      (3L, Seq.fill(40)("abcdefghijkl").mkString(" ")), // U+L (1 distinct 12-char token)
      (4L, (0 until 40).map(i => s"tok$i").mkString(" ")) // clean
    ).toDF("doc_id", "text")
    val f = docs.select($"doc_id", TextAnalysis.qualityFlags($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    f(1L) shouldBe "S--"
    f(2L) shouldBe "-U-"
    f(3L) shouldBe "-UL"
    f(4L) shouldBe "---"
  }

  test("unigramLogProb: Σ ln(cnt/N) per doc; freq join broadcasts") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // freq: a=2, b=2, c=1; N=5
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
    val m = out.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    m(1L)._1 shouldBe r6(3 * math.log(2.0 / 5.0))
    m(1L)._2 shouldBe 3L
    m(2L)._1 shouldBe r6(math.log(2.0 / 5.0) + math.log(1.0 / 5.0))
    // scale posture: the vocabulary join must be a broadcast, not a shuffle
    out.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("packShards plans exactly one exchange (the group-key window)") {
    val df = (0L until 100L).map(i => (i, s"g${i % 4}", 10L)).toDF("id", "grp", "nt")
    val plan = Packing.packShards(df, "id", "grp", $"nt", 64L)
      .queryExecution.executedPlan.toString
    plan.linesIterator.count(_.trim.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("sampling predicates stay shuffle-free (pure filter)") {
    val df = (0L until 100L).toDF("id")
    val plan = df.filter(Sampling.stratifiedKeep($"id", lit("en"), Map("en" -> 50)))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("capPerStratum: fixed quota per stratum, deterministic ranking") {
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val out = Sampling.capPerStratum(df, "id", "src", 5)
    out.groupBy("src").count().collect().map(_.getLong(1)).toSeq shouldBe Seq(5L, 5L, 5L)
    // same input → same keeps (pure function of ids)
    out.select("id").except(
      Sampling.capPerStratum(df, "id", "src", 5).select("id")).count() shouldBe 0
  }

  test("weightedSample: exact size, scale-invariant, heavy rows always in") {
    val df = (0L until 90L).map(i => (i, s"s${i % 3}", 1L + i % 7))
      .toDF("id", "src", "w")
    val out = Sampling.weightedSample(df, "id", "src", $"w", 10)
    out.groupBy("src").count().collect().map(_.getLong(1)).toSeq shouldBe
      Seq(10L, 10L, 10L)
    // strata smaller than n pass through whole
    val tiny = Seq((1L, "a", 5L), (2L, "a", 1L)).toDF("id", "src", "w")
    Sampling.weightedSample(tiny, "id", "src", $"w", 10).count() shouldBe 2
    // scaling every weight by a constant leaves the sample unchanged
    // (keys divide uniformly; ranking is scale-invariant)
    val scaled = Sampling.weightedSample(
      df.withColumn("w", $"w" * 1000), "id", "src", $"w", 10)
    out.select("id").except(scaled.select("id")).count() shouldBe 0
    // a row with overwhelming weight has key ~0 → always sampled
    val spiked = df.withColumn("w",
      when($"id" === 77L, 1000000000L).otherwise($"w"))
    Sampling.weightedSample(spiked, "id", "src", $"w", 10)
      .filter($"id" === 77L).count() shouldBe 1
    // deterministic: pure function of (id, weight)
    out.select("id").except(
      Sampling.weightedSample(df, "id", "src", $"w", 10).select("id"))
      .count() shouldBe 0
  }

  test("weightedSample: contract guards — column collision and weight sign") {
    val df = (0L until 10L).map(i => (i, "s", 1L + i)).toDF("id", "src", "w")
    // pre-existing skey/rnk columns are rejected loudly, not shadowed
    an[IllegalArgumentException] should be thrownBy
      Sampling.weightedSample(df.withColumn("skey", lit(0.0)),
        "id", "src", $"w", 5)
    an[IllegalArgumentException] should be thrownBy
      Sampling.weightedSample(df.withColumn("rnk", lit(1L)),
        "id", "src", $"w", 5)
    // a non-positive weight fails the job (raise_error), never silently
    // wins the sample with a -Inf/NaN clock
    val bad = df.withColumn("w", when($"id" === 3L, 0L).otherwise($"w"))
    an[Exception] should be thrownBy
      Sampling.weightedSample(bad, "id", "src", $"w", 5).collect()
  }

  test("contaminatedIds: flags docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta clean text here"),
      (11L, "totally unrelated words without overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "prefix alpha beta gamma delta suffix")).toDF("doc_id", "text")
    val hit = Dedup.contaminatedIds(corpus, bench, "doc_id", "text", 4)
      .collect().map(_.getLong(0)).toSeq
    hit shouldBe Seq(10L)
  }

  test("decontaminateExcise: spans cut, overlaps merge, untouched docs intact") {
    val corpus = Seq(
      // one benchmark 4-gram in the middle → tokens 3..6 excised
      (10L, "keep1 keep2 alpha beta gamma delta keep3 keep4"),
      // two OVERLAPPING occurrences (alpha..delta at 1, beta..eps at 2)
      // merge into one span covering tokens 1..5
      (11L, "alpha beta gamma delta epsilon tail1 tail2"),
      // no overlap with the benchmark → identity, n_removed = 0
      (12L, "totally unrelated words without any overlap at all"),
      // the doc IS a benchmark 4-gram → fully excised, empty clean text
      (13L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "prefix alpha beta gamma delta epsilon suffix")).toDF("doc_id", "text")
    val out = Dedup.decontaminateExcise(corpus, bench, "doc_id", "text", 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    out(10L) shouldBe (("keep1 keep2 keep3 keep4", 8L, 4L))
    out(11L) shouldBe (("tail1 tail2", 7L, 5L))
    out(12L) shouldBe (("totally unrelated words without any overlap at all", 8L, 0L))
    out(13L) shouldBe (("", 4L, 4L))
    out.size shouldBe 4
  }

  test("maskWords masks whole words only; maskCount counts them") {
    val df = Seq((1L, "the theme of a cat is a hat")).toDF("id", "text")
    val r = df.select(
      TextAnalysis.maskWords($"text", Seq("the", "a", "of", "is"), "<x>").as("m"),
      TextAnalysis.maskCount($"text", Seq("the", "a", "of", "is")).as("n")).head()
    r.getString(0) shouldBe "<x> theme <x> <x> cat <x> <x> hat" // "theme" untouched
    r.getLong(1) shouldBe 5L
  }

  test("Chunker.chunk: overlapping windows cover every word, tails shorter") {
    // 7 words, width 4, stride 2 → starts 0,2,4,6
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val rows = Chunker.chunk(df, "doc_id", "text", 4, 2)
      .orderBy("chunk_idx")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    rows shouldBe Array(
      (0L, 0L, 4L, "a b c d"),
      (1L, 2L, 4L, "c d e f"),
      (2L, 4L, 3L, "e f g"),
      (3L, 6L, 1L, "g"))
    // non-overlapping: stride = width partitions the document exactly
    val part = Chunker.chunk(df, "doc_id", "text", 3, 3)
      .orderBy("chunk_idx").collect().map(_.getString(4))
    part shouldBe Array("a b c", "d e f", "g")
    an[IllegalArgumentException] should be thrownBy
      Chunker.chunk(df, "doc_id", "text", 2, 4) // stride > width drops words
  }

  test("Chunker.dedupChunks: corpus-wide first occurrence wins, order kept") {
    // doc 1 owns both chunks; doc 2 repeats chunk "a b" (dropped) and adds
    // "x y"; doc 3 is pure boilerplate → comes back empty, not missing.
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b a b")).toDF("doc_id", "text")
    val out = Chunker.dedupChunks(df, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out shouldBe Array(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, ""))
  }

  test("incrementalDedupChunks: corpus wins regardless of id order") {
    // Corpus doc 50 owns "a b"; batch doc 2 (SMALLER id) repeats it —
    // arrival order beats id order, so the batch copy is suppressed.
    // Batch docs 2 and 4 both carry novel "x y": min (id, idx) wins.
    val corpus = Seq((50L, "a b c d")).toDF("doc_id", "text")
    val batch = Seq(
      (2L, "a b x y"),
      (4L, "x y q r")).toDF("doc_id", "text")
    val out = Chunker.incrementalDedupChunks(
      corpus, batch, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    out shouldBe Array(
      (2L, 2L, 1L, "x y"),
      (4L, 2L, 1L, "q r"))
    // with an empty corpus the incremental form IS the batch-internal dedup
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = Chunker.incrementalDedupChunks(empty, batch, "doc_id", "text", 2)
    val full = Chunker.dedupChunks(batch, "doc_id", "text", 2)
    inc.except(full).count() shouldBe 0
    full.except(inc).count() shouldBe 0
  }

  test("wordEntropy: hand-computed values; repetition scores low") {
    val df = Seq(
      (1L, "a b c d"),     // uniform over 4 → ln(4)
      (2L, "a a a a"),     // single word → 0
      (3L, "a a b b")      // uniform over 2 → ln(2)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.wordEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((4L, 4L, BigDecimal(math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    out(2L) shouldBe ((4L, 1L, 0.0))
    out(3L) shouldBe ((4L, 2L, BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("bigramLmScore prices seen and unseen bigrams under the frozen LM") {
    // Corpus "a b a b": cnt(a,b)=2, cnt(b,a)=1, ctx a=2, b=1; V=2.
    val corpus = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c"), // (a,b): (2+1)/(2+2)=3/4; (b,c) oov: 1/(1+2)=1/3
      (11L, "z z"),   // unseen CONTEXT too: 1/(0+2) = 1/2
      (12L, "q")      // single token → no bigrams → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    out.keySet shouldBe Set(10L, 11L)
    out(10L) shouldBe ((BigDecimal(math.log(0.75) + math.log(1.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 2L, 1L))
    out(11L) shouldBe ((BigDecimal(math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 1L, 1L))
  }

  test("bigramLmScore ranks corpus-like batch text above shuffled noise") {
    val corpus = Seq.tabulate(20)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox"),  // verbatim corpus phrase
      (101L, "fox the brown quick")   // same words, alien bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out(100L) should be > out(101L)
  }

  test("calibratedLmGate: threshold is the corpus' k-th smallest self-score") {
    // Nine fluent corpus docs + one alien one → with pct = 1/10, k = 1,
    // the threshold is the alien doc's (unique minimum) self-score.
    val corpus = (Seq.tabulate(9)(i =>
      (i.toLong, "the cat sat on the mat")) :+ (9L, "zz qq rr ss"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the cat sat"),   // fluent, well above threshold → admit
      (101L, "qq zz ss rr"),   // alien UNSEEN bigrams → below min → reject
      (102L, "zz qq rr ss")    // verbatim copy of the threshold doc → its
    ).toDF("doc_id", "text")   //   score EQUALS the threshold → admit (>=)
    val out = TextAnalysis.calibratedLmGate(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(3)))).toMap
    out(100L)._2 shouldBe 1
    out(101L)._2 shouldBe 0
    out(102L)._2 shouldBe 1
    // the boundary doc's score is exactly the corpus minimum self-score
    val lm = TextAnalysis.trainBigramLm(corpus, "doc_id", "text")
    val selfMin = TextAnalysis.scoreBigramLm(lm, corpus, "doc_id", "text")
      .select(round(col("logprob") / col("n_bigrams"), 6).as("a"))
      .agg(min("a")).head().getDouble(0)
    out(102L)._1 shouldBe selfMin
    out(101L)._1 should be < selfMin
  }

  test("dupRateByGroup: non-singleton cluster members counted per group") {
    // docs 1 and 2 identical (one cluster of 2), 3 and 4 unique
    val df = Seq(
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "sA"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "sB"),
      (3L, "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10", "sA"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "sB")
    ).toDF("doc_id", "text", "source")
    val out = DedupCluster.dupRateByGroup(df, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out("sA") shouldBe ((2L, 1L, 0.5))
    out("sB") shouldBe ((2L, 1L, 0.5))
  }

  test("crossSourceDupMatrix ≡ brute pair enumeration, diagonal C(c,2)") {
    // text "p": sA×2, sB×1; text "q": sB×3; text "r": unique
    val df = Seq(
      (1L, "p", "sA"), (2L, "p", "sA"), (3L, "p", "sB"),
      (4L, "q", "sB"), (5L, "q", "sB"), (6L, "q", "sB"),
      (7L, "r", "sA")
    ).toDF("doc_id", "text", "source")
    val got = DedupCluster.crossSourceDupMatrix(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // brute: all doc pairs with equal text, keyed by sorted source pair
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val brute = (for {
      a <- rows; b <- rows
      if a._1 < b._1 && a._2 == b._2
      s = if (a._3 <= b._3) (a._3, b._3) else (b._3, a._3)
    } yield s).groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.filter(_._2 > 0L) shouldBe brute
    got(("sA", "sA")) shouldBe 1L  // C(2,2 within sA for "p")
    got(("sA", "sB")) shouldBe 2L  // 2×1 cross for "p"
    got(("sB", "sB")) shouldBe 3L  // C(3,2) for "q"
    // the matrix is COMPLETE: every source pair present, zeros explicit
    got.keySet shouldBe Set(("sA", "sA"), ("sA", "sB"), ("sB", "sB"))
  }

  test("curatedReport: quality losers and exact dups excluded, tokens summed") {
    val good = (1 to 40).map(i => s"t$i").mkString(" ") // 40 distinct tokens
    val df = Seq(
      (1L, good, "sA"),            // survives
      (2L, good, "sB"),            // exact dup of 1 → dropped (min-id keeps 1)
      (3L, "short text only", "sA"), // S flag → dropped
      (4L, (1 to 40).map(i => s"u$i").mkString(" "), "sB") // survives
    ).toDF("doc_id", "text", "source")
    val out = Curation.curatedReport(df, "doc_id", "text", "source")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    out.map(_._2).sum shouldBe 2           // docs 1 and 4 only
    out.map(_._3).sum shouldBe 80L         // 40 tokens each
    out.map(_._1).toSet shouldBe Set("sA", "sB")
  }

  test("splitLeakageAudit: cluster split audits clean, naive split can leak") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // audited under the CLUSTER split: zero off-diagonal by construction
    val cl = DedupCluster.leakageFreeSplit(docs, "doc_id", "text")
      .select($"doc_id", $"split")
    val clAudit = DedupCluster.splitLeakageAudit(
      docs.join(cl, "doc_id"), "doc_id", "text", col("split"))
    clAudit.filter($"split_a" =!= $"split_b").count() shouldBe 0
    // total pair mass is the same under any split column
    val naive = DedupCluster.splitLeakageAudit(docs, "doc_id", "text",
      Sampling.splitAssign($"doc_id"))
    naive.agg(sum("n_pairs")).head().getLong(0) shouldBe
      clAudit.agg(sum("n_pairs")).head().getLong(0)
  }

  test("leakageFreeSplit: a near-dup family lands on one side wholesale") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val split = DedupCluster.leakageFreeSplit(docs, "doc_id", "text")
    // every cluster maps to exactly one split value
    split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n"))
      .filter($"n" > 1).count() shouldBe 0
    // and the assignment is the hash of the cluster id (spot-check: each
    // doc's split equals its cluster representative's split)
    val byId = split.select($"doc_id", $"split").as[(Long, String)]
      .collect().toMap
    val byCluster = split.select($"cluster_id", $"split").distinct()
      .as[(Long, String)].collect().toMap
    split.select($"doc_id", $"cluster_id").as[(Long, Long)].collect()
      .foreach { case (d, c) => byId(d) shouldBe byCluster(c) }
  }

  test("Bpe.train: hand-computed merge sequence, frequency-weighted") {
    // corpus "aa aa ab": vocab (aa,2) (ab,1) → round 1 pair (a,a) cnt 2
    // beats (a,b) cnt 1; round 2 merges (a,b); round 3 exhausts.
    val df = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", 5).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    m shouldBe Array((1, "a", "a", "aa", 2L), (2, "a", "b", "ab", 1L))
  }

  test("Bpe.train: runs merge non-overlapping left-to-right (both pairs)") {
    // "aaaa": after merging (a,a) BOTH disjoint pairs must collapse —
    // round 2 must see (aa, aa), not a leftover (a, a)/(aa, a) mix.
    val df = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", 2).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    m(0) shouldBe ((1, "a", "a", 6L)) // 3 adjacent pairs × freq 2
    m(1) shouldBe ((2, "aa", "aa", 2L))
  }

  test("WordPiece.train: hand-computed normalized-score merge sequence") {
    // corpus words: hug×3, pug×1, bun×1. Round 1: every pair scores
    // 0.2 — e.g. (h,##u) 3/(3·5) ties (b,##u) 1/(1·5) — and the
    // (s1, s2) lex tiebreak picks (##u,##g) ('#' < letters). Round 2:
    // (b,##u) and (##u,##n) score 1/(1·1) = 1.0, BEATING the
    // frequency-heavier (h,##ug) 3/(3·4) — the normalized score
    // preferring predictive-over-frequent is what separates WordPiece
    // from BPE, and the tiebreak picks (##u,##n). Then (b,##un) at 1.0,
    // (h,##ug) at 0.25 over (p,##ug) by s1, finally (p,##ug), exhaust.
    val df = Seq((1L, "hug hug pug"), (2L, "hug bun")).toDF("doc_id", "text")
    val m = WordPiece.train(df, "text", 10).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    m shouldBe Array(
      (1, "##u", "##g", "##ug", 4L),
      (2, "##u", "##n", "##un", 1L),
      (3, "b", "##un", "bun", 1L),
      (4, "h", "##ug", "hug", 3L),
      (5, "p", "##ug", "pug", 1L))
  }

  test("WordPiece.encodeWord: greedy longest match, ## classes, [UNK]") {
    // longest match beats any shorter decomposition
    WordPiece.encodeWord("ab", Set("a", "##b", "ab"), 2) shouldBe Seq("ab")
    WordPiece.encodeWord("ab", Set("a", "##b"), 2) shouldBe
      Seq("a", "##b")
    // position class is strict: "ug" (word-initial) may NOT serve as a
    // continuation — only "##ug" can
    WordPiece.encodeWord("bug", Set("b", "ug", "##u", "##g"), 2) shouldBe
      Seq("b", "##u", "##g")
    WordPiece.encodeWord("bug", Set("b", "##ug"), 2) shouldBe
      Seq("b", "##ug")
    // any unmatched position collapses the WHOLE word to one [UNK]
    WordPiece.encodeWord("hugs", Set("hug", "h", "##u", "##g"), 3) shouldBe
      Seq(WordPiece.Unk)
  }

  test("WordPiece.tokenCounts: encode under the trained vocab") {
    val df = Seq((1L, "hug hug pug"), (2L, "hug bun")).toDF("doc_id", "text")
    val merges = WordPiece.train(df, "text", 10).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq
    val vocab = WordPiece.vocabulary(df, "text", merges)
    vocab should contain allOf ("hug", "pug", "bun", "##ug", "##un",
      "h", "p", "b", "##u", "##g", "##n")
    val out = WordPiece.tokenCounts(df, "doc_id", "text", vocab)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // every trained word encodes as its single merged piece
    out(1L) shouldBe ((3L, 9L, 3L))
    out(2L) shouldBe ((2L, 6L, 2L))
  }

  test("WordPiece.tokenCounts: an empty vocab fails at the call") {
    val df = Seq((1L, "hug")).toDF("doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      WordPiece.tokenCounts(df, "doc_id", "text", Seq.empty)
  }

  test("merge loop job count: 2k+2 for both BPEs, at most 4k+2 for WordPiece") {
    // one eager checkpoint of the initial vocab (a shuffle: 2 jobs), then
    // per round the argmax query; the round's vocab checkpoint is lazy, so
    // it rides in the next round's first job instead of costing its own.
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "quick brown dogs jump over lazy foxes")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    def jobs(name: String, k: Int)(train: => DataFrame): Int = {
      val group = s"merge-loop-$name-$k"
      sc.setJobGroup(group, group)
      val merges = try train finally sc.clearJobGroup()
      merges.collect().length shouldBe k // no early exhaustion
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    for (k <- Seq(2, 6)) {
      jobs("bpe", k)(Bpe.train(df, "text", k)) shouldBe 2 * k + 2
      jobs("bytebpe", k)(ByteBpe.train(df, "text", k)) shouldBe 2 * k + 2
      jobs("wordpiece", k)(WordPiece.train(df, "text", k)) should be <=
        4 * k + 2
    }
  }

  test("Bpe.tokenCounts: encode under learned merges is self-consistent") {
    val df = Seq((1L, "aaaa ab aaaa"), (2L, "ab c")).toDF("doc_id", "text")
    val merges = Bpe.train(df, "text", 2).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // merge 1 = (a,a) cnt 6 (3 pairs × freq 2); round 2 ties (aa,aa)=2
    // with (a,b)=2 and the lexicographic tiebreak picks (a,b)
    merges shouldBe Seq(("a", "a"), ("a", "b"))
    val out = Bpe.tokenCounts(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: aaaa → "aa aa" (2 syms) ×2, ab → "ab" (1 sym) = 5
    out(1L) shouldBe ((3L, 5L))
    // doc 2: ab(1) + c(1) = 2
    out(2L) shouldBe ((2L, 2L))
  }

  test("bpe capstone: trained encode feeds window segments with exact token conservation") {
    // the q218 composition on a hand-checkable corpus: train 2 merges,
    // encode, cut 6-BPE-token windows — every span pinned by hand.
    val docs = Seq(
      (0L, "aa ab aa ab ab", "s1"),
      (1L, "ab ab b a", "s1"),
      (2L, "ba ba ba aa", "s2")).toDF("doc_id", "text", "source")
    val ms = Bpe.train(docs, "text", k = 2).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // (a,b) cnt 5 wins round 1; round 2 ties (a,a)=3 with (b,a)=3 and
    // the lexicographic tiebreak picks (a,a)
    ms shouldBe Seq(("a", "b"), ("a", "a"))
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", ms)
    val byDoc = counts.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // encoded sym counts: aa→1, ab→1, ba→2 ("ba" has no learned merge
    // at its boundary order: " b a " is untouched by (a,b) and (a,a))
    byDoc(0L) shouldBe ((5L, 5L))
    byDoc(1L) shouldBe ((4L, 4L))
    byDoc(2L) shouldBe ((4L, 7L))
    val seg = Packing.windowSegments(
      docs.select(col("doc_id"), col("source")).join(counts, "doc_id"),
      "doc_id", "source", col("n_bpe_tokens"), budget = 6L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .toSet
    // s1 stream: doc0 [0,5), doc1 [5,9) → window 0 gets doc0 fully +
    // doc1's first token, window 1 the rest; s2: doc2 [0,7) straddles
    seg shouldBe Set(
      ("s1", 0L, 0L, 0L, 5L, true, true),
      ("s1", 1L, 0L, 5L, 6L, true, false),
      ("s1", 1L, 1L, 0L, 3L, false, true),
      ("s2", 2L, 0L, 0L, 6L, true, false),
      ("s2", 2L, 1L, 0L, 1L, false, true))
    // conservation: window spans sum exactly to the encoded token totals
    seg.groupBy(_._1).view.mapValues(_.map(s => s._5 - s._4).sum).toMap shouldBe
      Map("s1" -> 9L, "s2" -> 7L)
  }

  test("quotaSample: per-stratum dynamic quotas, missing strata excluded") {
    val df = (0L until 30L).map(i => (i, if (i < 20) "big" else "small"))
      .toDF("id", "src")
    val quotas = Seq(("big", 5L), ("small", 2L)).toDF("src", "q")
    val out = Sampling.quotaSample(df, "id", "src", quotas, "q")
    out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("big" -> 5L, "small" -> 2L)
    // deterministic: same ids every run
    val again = Sampling.quotaSample(df, "id", "src", quotas, "q")
    out.select("id").except(again.select("id")).count() shouldBe 0
    // a stratum absent from the quota table contributes nothing
    val partial = Sampling.quotaSample(df, "id", "src",
      Seq(("small", 3L)).toDF("src", "q"), "q")
    partial.select("src").distinct().collect().map(_.getString(0)).toSeq shouldBe
      Seq("small")
    // the literal max-quota conjunct keeps the partial group limit
    out.queryExecution.executedPlan.toString should include("WindowGroupLimit")
  }

  test("JsonlCorpus: explicit-schema round-trip preserves rows and shards") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Scratch.withTempDir("jsonl_spec_") { p =>
      graft.ops.JsonlCorpus.write(docs, p.toString, 3)
      val back = graft.ops.JsonlCorpus.read(spark, p.toString, docs.schema)
      back.schema shouldBe docs.schema
      back.count() shouldBe docs.count()
      back.except(docs).count() shouldBe 0
      // the shard count is the stated choice
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(p).iterator().asScala
        .count(_.toString.endsWith(".json")) shouldBe 3
    }
  }

  test("packSequences: offsets form an exact partition of the token stream") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val packed = Packing.packSequences(docs, "doc_id", "text", ctxLen = 512L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._3)
    // exclusive-prefix property: offsets are 0, then cumsum of n_tokens,
    // with no gaps and no overlaps — the chop is over a contiguous stream
    packed.head._3 shouldBe 0L
    packed.sliding(2).foreach { case Array(a, b) =>
      b._3 shouldBe (a._3 + a._2)
    }
    // seq ids derive from the offsets
    packed.foreach { case (_, n, off, sf, sl) =>
      sf shouldBe off / 512L
      sl shouldBe (off + math.max(n, 1L) - 1L) / 512L
      sl should be >= sf
    }
    // the order is hash-shuffled, not id order (decorrelation smoke check)
    val byOffset = packed.map(_._1)
    byOffset shouldNot equal(byOffset.sorted)
    // determinism across plans
    val again = Packing.packSequences(docs, "doc_id", "text", ctxLen = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    packed.foreach { case (id, _, off, _, _) => again(id) shouldBe off }
  }

  test("epochMix: whole epochs exact, fractional share lands near target") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val out = Sampling.epochMix(df, "id", "src",
      Map("a" -> 2.5, "b" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // every b-doc appears exactly once, copy = 1
    out.filter(_._2 == "b").groupBy(_._1).values.foreach { c =>
      c.map(_._3).toSeq.sorted shouldBe Seq(1L)
    }
    // every a-doc appears 2 or 3 times, copies enumerate 1..n
    val aCounts = out.filter(_._2 == "a").groupBy(_._1).map { case (_, c) =>
      c.map(_._3).toSeq.sorted shouldBe (1L to c.size.toLong)
      c.size
    }.toSeq
    all(aCounts) should (be(2) or be(3))
    // the fractional half lands near 50% of the 500 a-docs (hash uniform)
    aCounts.count(_ == 3) shouldBe 250 +- 50
    // strata not in the recipe are dropped
    Sampling.epochMix(df, "id", "src", Map("a" -> 1.0))
      .filter(col("src") === "b").count() shouldBe 0L
  }

  test("temperatureShares: alpha=1 recovers proportions, alpha=0 flattens") {
    val df = (0L until 90L).map(i => (i, if (i < 80) "big" else "small"))
      .toDF("id", "src")
    val t1 = Sampling.temperatureShares(df, "src", 1.0, 1000L)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getLong(3))).toMap
    t1("big")._1 shouldBe (80.0 / 90.0 +- 1e-6)
    t1("big")._2 shouldBe 889L // floor(round(8/9)·1000 + .5)
    val t0 = Sampling.temperatureShares(df, "src", 0.0, 1000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    t0("big") shouldBe (0.5 +- 1e-6)
    t0("small") shouldBe (0.5 +- 1e-6)
    // alpha=0.5 sits between
    val th = Sampling.temperatureShares(df, "src", 0.5, 1000L)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    th("small") should be > t1("small")._1
    th("small") should be < 0.5
  }
  test("perHostCap: ports/case normalize; garbage URLs cap as one group") {
    import spark.implicits._
    val docs = (0L until 20L).map { i =>
      val url =
        if (i % 5 == 4) s"not a url $i"
        else s"http://HOST${i % 2}.Test:${8000 + i}/p/$i"
      (i, url)
    }.toDF("doc_id", "url")
    val kept = Curation.perHostCap(docs, "url", "doc_id", cap = 3)
      .select(col("doc_id"), Curation.urlHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // 2 real hosts (case+port folded) + the empty-host garbage group
    kept.map(_._2).distinct.sorted.toSeq shouldBe Seq("", "host0.test", "host1.test")
    kept.groupBy(_._2).foreach { case (_, rs) => rs.length should be <= 3 }
    // smallest doc ids win within each host
    kept.filter(_._2 == "host0.test").map(_._1).sorted.toSeq shouldBe Seq(0L, 2L, 6L)
    kept.filter(_._2 == "").map(_._1).sorted.toSeq shouldBe Seq(4L, 9L, 14L)
    // row_number <= cap plans the partial group limit BEFORE the
    // exchange — only cap·hosts rows shuffle (the q14/q208 rule)
    Curation.perHostCap(docs, "url", "doc_id", cap = 3)
      .queryExecution.executedPlan.toString should include("WindowGroupLimit")
  }

  test("canonicalUrl: every pinned rule on adversarial inputs") {
    import spark.implicits._
    val cases = Seq(
      // scheme/host case fold + default port strip (http:80)
      "HTTP://WWW.Example.COM:80/a" -> "http://www.example.com/a",
      // https:443 strips; https:80 does NOT
      "https://Ex.com:443/a" -> "https://ex.com/a",
      "https://ex.com:80/a" -> "https://ex.com:80/a",
      // non-default port kept
      "http://ex.com:8080/a" -> "http://ex.com:8080/a",
      // fragment drop; empty path -> /
      "http://ex.com#frag" -> "http://ex.com/",
      // %xx hex uppercased; malformed % runs untouched
      "http://ex.com/p%2fq%zz%a" -> "http://ex.com/p%2Fq%zz%a",
      // trailing /index.html -> / ; mid-path index.html kept
      "http://ex.com/d/index.html" -> "http://ex.com/d/",
      "http://ex.com/index.html/x" -> "http://ex.com/index.html/x",
      // query: empties dropped, utm_*/gclid (case-folded names) dropped,
      // byte-order sort, emptied query drops '?'
      "http://ex.com/a?b=2&&a=1&UTM_source=x&GClid=9" ->
        "http://ex.com/a?a=1&b=2",
      "http://ex.com/a?utm_campaign=x" -> "http://ex.com/a",
      "http://ex.com/a?" -> "http://ex.com/a",
      // value case preserved; only the NAME folds for the deny check
      "http://ex.com/a?Key=VaL" -> "http://ex.com/a?Key=VaL",
      // '?' inside query stays query; later '#' still a fragment
      "http://ex.com/a?x=1?y=2#z" -> "http://ex.com/a?x=1?y=2",
      // non-URL garbage passes through trimmed
      "  not a url  " -> "not a url",
      "relative/path?utm_source=x" -> "relative/path?utm_source=x",
    )
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Curation.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      withClue(s"canonicalUrl($in): ") { got(in) shouldBe want }
    }
  }

  test("urlDedup: canonical-form groups keep the min-order doc") {
    import spark.implicits._
    val docs = Seq(
      (0L, "http://EX.com:80/a?b=2&a=1"),
      (1L, "http://ex.com/a?a=1&utm_source=z&b=2#f"),
      (2L, "http://ex.com/a?a=1&b=2"),
      (3L, "http://ex.com/other"),
      (4L, "garbage"),
      (5L, "garbage"),
    ).toDF("doc_id", "url")
    val deduped = Curation.urlDedup(docs, "url", "doc_id")
    val kept = deduped.select("doc_id").as[Long].collect().sorted.toSeq
    kept shouldBe Seq(0L, 3L, 4L)
    // the rn = 1 window over the canonical-url EXPRESSION key still
    // plans the partial group limit before the exchange
    deduped.queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
  }

  test("ffdPack: hand-pinned greedy — order, exact-fit, open order, offsets") {
    // C=160, lens desc: 100,60,50,40,30 → bin0=[100,60] (exact fit),
    // bin1=[50,40,30]
    val df = Seq((1L, 100L), (2L, 60L), (3L, 50L), (4L, 40L), (5L, 30L))
      .toDF("id", "nt").withColumn("grp", lit("g"))
    val got = Packing.ffdPack(df, "id", "grp", $"nt", 160L)
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4)))
      .toMap
    got shouldBe Map(1L -> (0L, 0L), 2L -> (0L, 100L),
      3L -> (1L, 0L), 4L -> (1L, 50L), 5L -> (1L, 90L))
  }

  test("ffdPack: valid, deterministic, and beats one-doc-per-seq padding") {
    val df = (1L to 200L).map(i => (i, 10L + (i * 37) % 90, s"g${i % 4}"))
      .toDF("id", "nt", "grp")
    val C = 128L
    val out = Packing.ffdPack(df, "id", "grp", $"nt", C)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    out.length shouldBe 200
    // validity: per (grp, seq) fills within budget, offsets contiguous
    out.groupBy(t => (t._1, t._4)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._5)
      sorted.map(_._3).sum should be <= C
      sorted.foldLeft(0L) { case (expOff, (_, _, nt, _, off)) =>
        off shouldBe expOff; expOff + nt
      }
    }
    // determinism: a second run is identical
    Packing.ffdPack(df, "id", "grp", $"nt", C)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted shouldBe out.sorted
    // padding beats the no-split baseline (one doc per sequence) and
    // bins meet the volume lower bound
    out.groupBy(_._1).foreach { case (_, rows) =>
      val bins = rows.map(_._4).distinct.length
      val total = rows.map(_._3).sum
      bins should be >= ((total + C - 1) / C).toInt
      bins should be < rows.length // strictly fewer seqs than docs
    }
    // oversize and nonpositive items are refused loudly
    an[Exception] should be thrownBy Packing.ffdPack(
      Seq((1L, 200L, "g")).toDF("id", "nt", "grp"), "id", "grp", $"nt", C)
      .collect()
    an[Exception] should be thrownBy Packing.ffdPack(
      Seq((1L, 0L, "g")).toDF("id", "nt", "grp"), "id", "grp", $"nt", C)
      .collect()
  }
}
