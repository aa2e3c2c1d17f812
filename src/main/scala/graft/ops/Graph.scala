package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative breadth-first search over an edge DataFrame: minimum hop
  * count from a seed set, bounded by `maxHops`. The graph-traversal
  * operator the reference's routable `ways`/`ways_vertices_pgr` tables
  * exist to serve (`README.md:44-47` builds the graph; traversal is the
  * downstream query) — re-expressed as level-synchronous frontier joins,
  * the standard distributed-BFS shape (Pregel supersteps as DataFrame
  * ops).
  *
  * Scale shape: each level is ONE equi-join of the current frontier
  * against the edge list (shuffle keyed on the node id — at 100 TB,
  * pre-bucket the edges by `src` and every level's join co-locates with
  * zero edge re-shuffle), followed by an anti-join against the visited
  * set so the frontier only ever carries NEW nodes (frontiers shrink as
  * the search saturates; without the anti-join a dense graph re-expands
  * visited nodes every level). The loop carries the DedupCluster
  * checkpoint discipline: the edge list is checkpointed ONCE before the
  * loop (cuts upstream lineage from every level), each level's frontier
  * and visited set are lazily checkpointed (plans stay constant-size;
  * exactly one materializing job per level), and the level-emptiness test
  * rides the same job that materializes the frontier.
  */
object Graph {

  /** @param edges directed edge list; pass both directions for an
    *              undirected graph
    * @return (node, hop) — minimum number of edges from any seed,
    *         seeds at hop 0; nodes unreached within `maxHops` absent
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint()
    var visited = seeds.toDF("node")
      .withColumn("hop", lit(0)).localCheckpoint()
    var frontier = visited
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = frontier
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(hop))
        .localCheckpoint() // materializes: the loop's one job per level
      visited = visited.union(frontier).localCheckpoint(eager = false)
    }
    visited
  }

  /** Weighted single-source shortest path, bounded to `maxHops` edges —
    * the query the reference builds `ways`/`ways_vertices_pgr` FOR
    * (`README.md:44-47`: the tables exist so pgRouting can run Dijkstra
    * over them). Re-expressed as level-synchronous Bellman-Ford
    * relaxation: after round h, `dist(v)` is exactly the minimum total
    * weight over paths of at most h edges (the classic invariant), so a
    * bounded run is a well-defined operator in itself and an unbounded
    * `maxHops ≥ |V|−1` run converges to true SSSP (the loop exits early
    * the first round nothing improves).
    *
    * Scale shape (same discipline as [[bfsHops]]): one frontier-edges
    * equi-join per round keyed on the node id (pre-bucket edges by `src`
    * at 100 TB for zero edge re-shuffle), a map-side-combinable min per
    * destination, and a min-merge into the running distance table. The
    * frontier carries ONLY improved nodes, so saturated regions drop out
    * of later rounds. Edges are checkpointed once before the loop; each
    * round's frontier is the round's one materializing job (the emptiness
    * test rides it) and the distance table checkpoints lazily.
    *
    * Weights are integer (`long`) by contract: distances stay exact under
    * min/sum on any engine — no float accumulation-order drift between
    * this and a SQL twin (the q72/q47 parity lesson applied to graphs).
    *
    * @param edges directed weighted edge list; pass both directions for
    *              an undirected graph
    * @return (node, dist) — minimum path weight from any seed over paths
    *         of ≤ `maxHops` edges; seeds at 0; unreachable nodes absent
    */
  def weightedSssp(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[Long], maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w")).localCheckpoint()
    var dist = seeds.toDF("node")
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      // Relax every edge out of the frontier; keep only strict improvements
      // (or first arrivals) so the next frontier shrinks as paths saturate.
      val cand = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      frontier = cand
        .join(dist.withColumnRenamed("dist", "cur"), Seq("node"), "left")
        .filter(col("cur").isNull || col("cand") < col("cur"))
        .select(col("node"), col("cand").as("dist"))
        .localCheckpoint() // materializes: the round's one job
      dist = dist.union(frontier)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(eager = false)
    }
    dist
  }

  /** PageRank, fixed iteration count (power iteration with damping):
    * r₀ = 1/N, then `iters` rounds of
    * r'(v) = (1−d)/N + d·Σ_{(u,v)∈E} r(u)/outdeg(u). Centrality over the
    * routing graph the reference builds (the pgRouting tables serve
    * exactly this kind of downstream analytics), and the influence score
    * of citation/link-graph curation in a training pipeline.
    *
    * Semantics: a FIXED number of rounds (the bounded-operator discipline
    * of [[weightedSssp]] — the result after k rounds is well-defined in
    * itself); dangling-node mass is dropped, not redistributed (pass both
    * edge directions for an undirected graph and none exists). Ranks then
    * sum to < 1 in graphs with dangling nodes — callers normalize if they
    * need a distribution.
    *
    * Cross-engine determinism (the q72/q104 discipline, per round):
    * per-edge contributions round at 1e-12 then sum as DECIMAL(38,12) —
    * exact in any order and any engine — and the new rank rounds at 1e-9;
    * every float op left (two divisions, one multiply, one add per value)
    * is a single IEEE op with operator-for-operator twins in SQL, so a k-
    * round run compares exactly. No interpolation/libm surface at all.
    *
    * Scale shape: outdeg and nodes are one-off aggregates of the
    * checkpointed edge list (at 100 TB, pre-bucket edges by `src`: every
    * round's join co-locates with zero edge re-shuffle); each round is
    * ONE frontier-shaped join + a map-side-combinable sum; rank state
    * checkpoints lazily (constant-size plans, one materializing job per
    * round — the DedupCluster loop discipline). N is a bounded 1-value
    * collect (node count).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters >= 1, got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().localCheckpoint()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint() // referenced every round
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint() // referenced every round (left join keeps sinks)
    val n = nodes.count()
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    for (_ <- 0 until iters) {
      val contrib = e
        .join(ranks, e("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          round(col("pr") / col("outdeg"), 12).cast("decimal(38,12)").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          round(lit((1 - damping) / n) +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 9)
            .as("pr"))
        .localCheckpoint(eager = false)
    }
    ranks.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed graph,
    * `iters` synchronous rounds: each round authorities collect their
    * in-neighbors' hub scores, then hubs collect their out-neighbors'
    * fresh authority scores; both sides L1-normalize (sum = 1 — the L2
    * norm would put a sqrt inside every round's parity surface for no
    * analytic gain at fixed rounds). The second link-analysis operator
    * beside [[pageRank]] — on a bipartite supplier→part graph, hub
    * score reads "breadth of a supplier's catalog reach", authority
    * "how contested a part is".
    *
    * The pageRank float discipline, exactly: per-edge contributions
    * round at 12 and sum as DECIMAL(38,12) (order-free), normalized
    * scores round at 9 per round, output rounds at 6 — a multi-round
    * float fixpoint that hash-compares across engines. Per round: two
    * keyed joins + two map-side-combinable sums + two 1-row totals;
    * edges checkpoint once, scores lazily per round.
    *
    * @return (node, score, kind) — kind "hub" for source-side nodes,
    *         "auth" for destination-side
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"hits: iters >= 1, got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().localCheckpoint()
    val hubs0 = e.select(col("src").as("node")).distinct().localCheckpoint()
    val nh = hubs0.count()
    var h = hubs0.select(col("node"), lit(1.0 / nh).as("score"))
    var a: DataFrame = null
    for (_ <- 0 until iters) {
      val aRaw = e.join(h.select(col("node").as("src"), col("score")), Seq("src"))
        .select(col("dst").as("node"),
          round(col("score"), 12).cast("decimal(38,12)").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val aTot = aRaw.agg(sum("s").as("t"))
      a = aRaw.crossJoin(broadcast(aTot))
        .select(col("node"),
          round(col("s").cast("double") / col("t").cast("double"), 9)
            .as("score"))
        .localCheckpoint(eager = false)
      val hRaw = e.join(a.select(col("node").as("dst"), col("score")), Seq("dst"))
        .select(col("src").as("node"),
          round(col("score"), 12).cast("decimal(38,12)").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val hTot = hRaw.agg(sum("s").as("t"))
      h = hRaw.crossJoin(broadcast(hTot))
        .select(col("node"),
          round(col("s").cast("double") / col("t").cast("double"), 9)
            .as("score"))
        .localCheckpoint(eager = false)
    }
    h.select(col("node"), round(col("score"), 6).as("score"),
        lit("hub").as("kind"))
      .unionByName(a.select(col("node"), round(col("score"), 6).as("score"),
        lit("auth").as("kind")))
  }

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) over an
    * undirected graph, made fully deterministic: labels start as node
    * ids; each round every node adopts the label carried by the MOST of
    * its neighbors, ties broken by the smallest label; exactly `rounds`
    * rounds run (synchronous LPA can oscillate between two colorings on
    * bipartite-ish structure, so production runs bound rounds rather
    * than wait on a fixpoint that may never come). Communities are
    * DENSITY-driven — unlike connected components (q41's engine), a
    * bridge edge between two cliques does not merge them, which is
    * exactly the over-merge q163's low-LCC hubs warn about.
    *
    * Scale shape per round: one join of the (node, label) table against
    * the edge list (keyed on node), one (node, label) count aggregate,
    * one max-count/min-label reduction — all hash-partitioned on the
    * node id; labels checkpoint each round (constant-size plans), edges
    * checkpoint once.
    *
    * @return (node, label) after `rounds` rounds; singleton-free (only
    *         nodes with ≥ 1 edge participate)
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds >= 1, got $rounds")
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val e = e0.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e0.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    var labels = e.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = e.join(labels.select(col("node").as("b"), col("label")),
          Seq("b"))
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy("node")
        .agg(min(struct(negate(col("c")), col("label"))).as("best"))
        .select(col("node"), col("best.label").as("label"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** k-CORE of an undirected graph: the maximal subgraph in which every
    * node keeps degree ≥ k — the standard "dense kernel" extraction
    * (Seidman 1983). On a similarity graph the k-core separates genuine
    * duplicate cliques from the chains and stars that band collisions
    * string together; on an interaction graph it is the engagement
    * kernel. Computed by the peel fixpoint: repeatedly delete nodes of
    * degree < k (deleting a node can expose new under-degree nodes, so
    * this must iterate; the fixpoint is order-independent and unique).
    *
    * Scale shape: each round is one degree aggregate keyed on node plus
    * two anti-joins of the edge list against the (typically small)
    * under-degree set — never a per-node loop; rounds are bounded by the
    * graph's degeneracy ordering depth (single digits on clique-ish
    * similarity graphs). The DedupCluster loop discipline applies: the
    * canonical edge list is checkpointed before the loop and each
    * surviving edge set is checkpointed, so plans stay constant-size and
    * each round is one materializing job (the emptiness probe rides the
    * checkpointed under-degree set).
    *
    * @return (node, core_deg) for every node of the k-core, with its
    *         degree WITHIN the core (≥ k by construction)
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int): DataFrame = {
    require(k >= 1, s"kCore: k >= 1, got $k")
    var e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val bad = deg.filter(col("deg") < k).select("node").localCheckpoint()
      if (bad.isEmpty) converged = true
      else e = e
        .join(bad.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(bad.select(col("node").as("v")), Seq("v"), "left_anti")
        .localCheckpoint()
    }
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** Per-node TRIANGLE COUNT and local clustering coefficient over an
    * undirected graph — the cluster-density metric for similarity graphs
    * (a near-dup component whose nodes have high LCC is a genuine clique
    * of variants; a low-LCC hub is a chain of borderline matches that
    * transitive closure is about to over-merge).
    *
    * Degree-ordered compact-forward enumeration (Latapy 2008): orient
    * every canonical edge from its lower-(degree, id) endpoint, join
    * out-edges on the shared apex to form wedges, and close each wedge
    * against the canonical edge list. Each triangle is counted exactly
    * once (its apex is its minimum-(deg, id) vertex), and wedge volume is
    * Σ out-deg² where out-degrees are bounded by O(√edges) on any graph —
    * the orientation is WHY this survives skew: a hot hub's edges orient
    * INTO it, so the hub never fans out its neighbor pairs. Everything is
    * equi-joins keyed on node/edge ids; the canonical edge list is
    * checkpointed once and reused by the degree pass, both wedge sides,
    * and the closure probe.
    *
    * @param edges undirected edge list (either orientation, duplicates
    *              and self-loops tolerated)
    * @return (node, deg, n_tri, lcc) for every node with ≥ 1 edge;
    *         lcc = 2·n_tri / (deg·(deg−1)), rounded to 6, 0 when deg < 2
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val oriented = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("o"))
      .select(col("o.a").as("a"), col("o.b").as("b"))
      .localCheckpoint()
    val wedges = oriented.alias("e1").join(oriented.alias("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("apex"), col("e1.b").as("x"), col("e2.b").as("y"))
    val tris = wedges.join(e,
      least(col("x"), col("y")) === col("u") &&
        greatest(col("x"), col("y")) === col("v"), "left_semi")
    val perNode = tris
      .select(explode(array(col("apex"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") >= 2,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
              (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("lcc"))
  }
}
