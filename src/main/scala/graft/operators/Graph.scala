package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over corpus-derived graphs — the centrality
  * complement to [[Dedup.components]]' connectivity: PageRank-style
  * scoring of the word co-occurrence graph (link-graph quality signals
  * are a standard corpus-curation input).
  *
  * Determinism contract: ranks are scaled BIGINTs (initial mass
  * `init` per node) and every step is integer arithmetic —
  * `rank div outdeg` per edge, damping as `(85 · inflow) div 100` —
  * truncation toward zero on both engines, so each iteration is
  * bit-reproducible and the oracle can unroll the same recurrence.
  * Dangling nodes simply leak their mass (classic simplified PageRank);
  * nodes with no in-edges keep the teleport term.
  */
object Graph {

  /** Distinct directed word-adjacency edges (consecutive cleaned
    * tokens) across all documents.
    */
  def bigramEdges(docs: DataFrame): DataFrame =
    docs.select(WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS src, ws[i+1] AS dst))"))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()

  /** `iters` PageRank power iterations over (src, dst) edges: the
    * unit-weight, every-node-teleport case of [[rankFlow]].
    */
  def pageRank(rawEdges: DataFrame, iters: Int,
               init: Long = 1000000000000L): DataFrame =
    rankFlow(rawEdges, lit(1L), None, iters, init)

  /** The one PageRank recurrence behind [[pageRank]],
    * [[pageRankWeighted]] and [[personalizedPageRank]]: per round
    * `rank(v) = jump·[v ∈ seeds] + (85 · Σ_{u→v} (rank(u)·w) div Σw(u)) div 100`,
    * from initial mass `init` on each seed and 0 elsewhere. With
    * `weight` 1 the edge share is `rank div outdeg`, and with no seed
    * set every node is a seed (plain PageRank's uniform mass and
    * teleport), so all three forms are this body bit for bit.
    *
    * Scale shape: per iteration ONE shuffle on dst (the inflow
    * aggregation) plus the rank⋈edge join on src — both keyed
    * exchanges over edge/node-sized frames, nothing on the driver. The
    * edge derivation is materialized once (every round joins it), and
    * the node-sized rank frame is an [[Iterate.fixed]] round. A seed
    * table is tiny by definition and broadcast each round.
    */
  private def rankFlow(rawEdges: DataFrame, weight: Column,
                       seeds: Option[DataFrame], iters: Int,
                       init: Long): DataFrame = {
    val jump = init * 15 / 100
    val edges = Iterate.materialize(rawEdges)
    val nodes = Iterate.materialize(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct())
    val outw = Iterate.materialize(
      edges.groupBy("src").agg(sum(weight).as("ow")))
    val seedSet = seeds.map(s => Iterate.materialize(
      s.select(col("node")).distinct().withColumn("is_seed", lit(1))))
    // the teleport targets: every node, or the seed set
    def targets: DataFrame = seedSet.fold(nodes.withColumn("is_seed", lit(1)))(
      s => nodes.join(broadcast(s), Seq("node"), "left"))
    def mass(m: Long): Column =
      when(col("is_seed").isNotNull, lit(m)).otherwise(lit(0L))
    val ranks0 = Iterate.materialize(
      targets.select(col("node"), mass(init).as("rank")))
    val ranks = Iterate.fixed(ranks0, iters) { (cur, _) =>
      val inflow = edges
        .join(cur, col("src") === col("node"))
        .join(outw, "src")
        .withColumn("w", weight)
        .select(col("dst"), expr("(rank * w) div ow").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      targets.join(inflow, col("node") === col("dst"), "left")
        .select(col("node"),
          (mass(jump) + expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
    }
    // the final ranks stand alone: free the loop's inputs
    (Seq(edges, nodes, outw) ++ seedSet).foreach(Iterate.release(_))
    ranks.orderBy(col("rank").desc, col("node"))
  }

  /** Gate shape: PageRank of the corpus word-adjacency graph, over its
    * directed distinct edge set ([[bigramEdges]], staged as
    * [[graft.sources.GraphStage.wordEdges]]).
    */
  def wordPageRank(e0: DataFrame, iters: Int = 3): DataFrame =
    pageRank(e0, iters)
      .select(col("node"), col("rank"))

  /** Weighted PageRank over (src, dst, w) edges: rank flows in
    * proportion to edge weight — `contribution = rank·w div Σw(src)`
    * — the real-link-graph form (a page linked 100× from a hub should
    * receive 100 shares, not 1). [[rankFlow]] with weight `w`; the
    * only new overflow term is `rank·w`, safe while `init·w_max < 2⁶³`
    * (init 10¹² leaves room for w up to ~9·10⁶ — shrink init for
    * heavier multigraphs).
    */
  def pageRankWeighted(rawEdges: DataFrame, iters: Int,
                       init: Long = 1000000000000L): DataFrame =
    rankFlow(rawEdges, col("w"), None, iters, init)

  /** Directed word-adjacency MULTIGRAPH counts (src, dst, cnt) — the
    * weighted family's shared derivation ([[wordPageRankWeighted]],
    * [[ssspWords]]); [[bigramEdges]] is its distinct key set.
    */
  private[graft] def bigramEdgeCounts(docs: DataFrame): DataFrame =
    docs.select(WordCount.cleanWords(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS src, ws[i+1] AS dst))"))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))

  /** Gate shape: weighted PageRank where the edge weight is the bigram
    * OCCURRENCE count (how often the adjacency appears corpus-wide) —
    * the multigraph the unweighted gate collapses with `distinct()`.
    * Takes the multigraph counts ([[bigramEdgeCounts]], staged as
    * [[graft.sources.GraphStage.wordEdgeCounts]]).
    */
  def wordPageRankWeighted(counts: DataFrame, iters: Int = 3): DataFrame =
    pageRankWeighted(counts.withColumnRenamed("cnt", "w"), iters)
      .select(col("node"), col("rank"))

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * set — the rank measures proximity to the seeds rather than global
    * centrality (the standard seeded-relevance primitive: quality
    * propagation from trusted pages, related-entity expansion from a
    * query node). [[rankFlow]] over `seedsDf`'s `node` column: initial
    * mass `init` on each seed and 0 elsewhere, per-iteration rank =
    * `jump·[node ∈ seeds] + (85·inflow) div 100`.
    */
  def personalizedPageRank(rawEdges: DataFrame, seedsDf: DataFrame,
                           iters: Int,
                           init: Long = 1000000000000L): DataFrame =
    rankFlow(rawEdges, lit(1L), Some(seedsDf), iters, init)

  /** Gate shape: personalized PageRank of the word-adjacency graph,
    * seeded at the corpus' top `nSeeds` words by count (data-derived —
    * no corpus-dependent literal in the query). Ranks run over the
    * edge set `e0` ([[bigramEdges]]); the seeds derive from the docs
    * wordcount.
    */
  def wordPpr(docs: DataFrame, e0: DataFrame, iters: Int = 3,
              nSeeds: Int = 2): DataFrame = {
    val seeds = WordCount.wordCount(docs)
      .orderBy(col("cnt").desc, col("word")).limit(nSeeds)
      .select(col("word").as("node"))
    personalizedPageRank(e0, seeds, iters)
      .select(col("node"), col("rank"))
  }

  /** Triangle count of the undirected word-adjacency graph via
    * degree-ordered edge orientation: every edge points from its
    * (degree, word)-smaller endpoint to the larger, so each triangle
    * is counted exactly once at its minimal vertex and — the scale
    * property — wedge fan-out per node is bounded by its ORIENTED
    * out-degree (≤ √m on the heavy nodes), giving the classic
    * O(m^{3/2}) distributed join instead of a hub node exploding the
    * wedge set. Degree table is vocabulary-sized — un-hinted so AQE
    * sizes the join (broadcast at this scale, shuffle when the
    * vocabulary outgrows an executor); the two big joins shuffle on
    * wedge keys. Takes a directed distinct edge set ([[bigramEdges]]).
    */
  def triangleCount(e: DataFrame): DataFrame = {
    val e0 = e
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = e0.select(col("a").as("w"))
      .union(e0.select(col("b").as("w")))
      .groupBy("w").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.toDF("wa", "da"), col("a") === col("wa"))
      .join(deg.toDF("wb", "db"), col("b") === col("wb"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    val e1 = o.toDF("u", "v")
    val e2 = o.toDF("u2", "w2")
    val e3 = o.toDF("v3", "w3")
    e1.join(e2, col("u") === col("u2") && col("v") =!= col("w2"))
      .join(e3, col("v") === col("v3") && col("w2") === col("w3"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient over an undirected
    * canonical (a < b) edge frame: coeff(v) = 2·tri(v)·10⁶ div
    * (deg(v)·(deg(v)−1)) in exact ppm, emitted for every node with
    * deg ≥ 2. Triangle enumeration reuses [[triangleCount]]'s
    * degree-ordered orientation (each triangle lands once, wedge
    * fan-out bounded by oriented out-degree, O(m^{3/2}) total), then
    * each triangle credits its three corners through one explode —
    * per-node counts are a keyed agg, never a per-node neighborhood
    * scan. The coefficient is how "community-like" a node's
    * neighborhood is — tree-like hubs score 0, clique members 10⁶.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a"), col("b"))
    val deg = e0.select(col("a").as("w"))
      .union(e0.select(col("b").as("w")))
      .groupBy("w").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.toDF("wa", "da"), col("a") === col("wa"))
      .join(deg.toDF("wb", "db"), col("b") === col("wb"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    val tri = o.toDF("u", "v")
      .join(o.toDF("u2", "w2"), col("u") === col("u2") && col("v") =!= col("w2"))
      .join(o.toDF("v3", "w3"), col("v") === col("v3") && col("w2") === col("w3"))
      .select(col("u"), col("v"), col("w2"))
    val triPerNode = tri
      .select(explode(array(col("u"), col("v"), col("w2"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("t"))
    deg.join(triPerNode, Seq("w"), "left")
      .where(col("d") >= 2)
      .select(col("w").as("node"), col("d").as("deg"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        expr("coalesce(t, 0L) * 2 * 1000000 div (d * (d - 1))").as("coeff_ppm"))
      .orderBy("node")
  }

  /** HITS hubs-and-authorities (Kleinberg) over (src, dst) edges —
    * the bipartite-reinforcement centrality next to [[pageRank]]'s
    * random-walk one: a node is a good AUTHORITY when good hubs point
    * at it, a good HUB when it points at good authorities. Each
    * iteration is the two half-steps `auth ← Σ_in hub` then
    * `hub ← Σ_out auth`, renormalized after each half-step.
    *
    * Determinism contract: scores are `init`-scaled BIGINTs and the
    * renormalization is MAX-normalization in integer arithmetic —
    * `score · init div max(score)` — instead of the classical L2 norm
    * (a float sqrt whose rounding the two engines need not share).
    * Max-normalization keeps the same fixed-point direction as L2
    * (both are scalar rescalings per half-step, and HITS' limit is
    * scale-invariant) while staying bit-reproducible. The running max
    * is a 1-row broadcast, the established scalar-frame pattern.
    *
    * Scale shape per iteration: two aggregations (one shuffle on dst,
    * one on src) + two 1-row max aggregates; ONE node-sized
    * checkpoint per iteration (the hub frame, with the auth half-step
    * inlined into its plan — round 15: the per-half-step auth
    * checkpoint was a whole extra Spark job per iteration whose only
    * value was truncating a two-join lineage; the tiny-jobs class
    * pays per-job fixed overhead, so jobs are the budget here, per
    * VERDICT r14 #3). The FINAL iteration checkpoints its auth frame
    * too — the output joins auth with hub, and without it the auth
    * half-step would re-derive through the returned plan. That last
    * auth checkpoint is why HITS keeps its own loop over
    * [[Iterate.materialize]]/[[Iterate.release]]: superseded hub
    * rounds are released; the initial `hub = init` frame is a literal
    * column over the checkpointed nodes, nothing worth a
    * materialization of its own.
    * Overflow window: with `init = 10⁶`, an intermediate sum is
    * ≤ n·init and the rescale multiplies by init — safe to ~10⁶
    * distinct nodes per the documented `n·init² < 2⁶³` bound; shrink
    * init as n grows.
    */
  def hits(rawEdges: DataFrame, iters: Int, init: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration (auth is undefined at round 0)")
    val edges = Iterate.materialize(rawEdges)
    val nodes = Iterate.materialize(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct())
    var hubs = nodes.withColumn("hub", lit(init))
    var auths: DataFrame = null
    var i = 0
    while (i < iters) {
      val rawAuth = edges.join(hubs, col("src") === col("node"))
        .groupBy("dst").agg(sum("hub").as("a"))
      val amax = rawAuth.agg(max("a").as("amax"))
      val authPlan = nodes.join(rawAuth, col("node") === col("dst"), "left")
        .crossJoin(broadcast(amax))
        .select(col("node"),
          expr(s"coalesce(a, CAST(0 AS BIGINT)) * ${init}L div amax").as("auth"))
      // only the LAST auth frame is ever read twice (hub half-step +
      // final join); intermediate ones flow straight into the hub
      // checkpoint of the same iteration
      auths = if (i == iters - 1) Iterate.materialize(authPlan) else authPlan
      val rawHub = edges
        .join(auths.select(col("node").as("anode"), col("auth")),
          col("dst") === col("anode"))
        .groupBy("src").agg(sum("auth").as("h"))
      val hmax = rawHub.agg(max("h").as("hmax"))
      val prevHubs = hubs
      hubs = Iterate.materialize(
        nodes.join(rawHub, col("node") === col("src"), "left")
          .crossJoin(broadcast(hmax))
          .select(col("node"),
            expr(s"coalesce(h, CAST(0 AS BIGINT)) * ${init}L div hmax").as("hub")))
      if (i > 0) Iterate.release(prevHubs) // round 0's is the literal plan
      i += 1
    }
    auths.join(hubs, "node")
      .select(col("node"), col("auth"), col("hub"))
      .orderBy(col("auth").desc, col("node"))
  }

  /** Gate shape: HITS of the corpus word-adjacency graph, over its
    * edge set ([[bigramEdges]]).
    */
  def wordHits(e0: DataFrame, iters: Int = 2): DataFrame =
    hits(e0, iters)

  /** k-core decomposition of the UNDIRECTED graph by iterative
    * peeling: repeatedly delete every node of degree < `k` (and its
    * edges) until none remains — the standard graph-quality filter
    * (a node's coreness survives only through mutually-supporting
    * neighborhoods, so spam/orphan structures peel away). The
    * fixpoint is unique regardless of deletion order, which is what
    * makes the gate well-defined: the oracle unrolls `maxRounds`
    * peel rounds, and since peeling is monotone (a converged graph
    * is a no-op for every further round), Spark iterating to
    * convergence within `maxRounds` lands on the identical edge set.
    * THROWS if `maxRounds` isn't enough (like [[Dedup.components]] —
    * returning a partial peel would overstate the core).
    *
    * Scale shape per round: one degree aggregation (shuffle on node)
    * + two semi-joins pruning the edge list; the convergence probe is
    * an `isEmpty` on the NODE-sized under-degree frame — no
    * edge-scale set difference. Rounds are bounded by the degeneracy
    * ordering depth, in practice shallow; each peel is an
    * [[Iterate.rounds]] round (eager checkpoint after the probe).
    */
  def kCore(rawEdges: DataFrame, k: Int, maxRounds: Int = 10): DataFrame = {
    val e0 = rawEdges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val sym = Iterate.materialize(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"))))
    val edges = Iterate.rounds(sym, maxRounds) { (cur, _) =>
      val deg = cur.groupBy("src").agg(count(lit(1)).as("d"))
      if (deg.where(col("d") < k).isEmpty) None
      else {
        val keep = deg.where(col("d") >= k).select("src")
        Some(cur
          .join(keep, Seq("src"), "left_semi")
          .join(keep.toDF("dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))
      }
    }.orThrow("Graph.kCore", "maxRounds",
      "a partial peel would overstate the k-core")
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** Gate shape: 24-core of the corpus word-adjacency graph (the
    * vocabulary graph is dense, so the interesting peel threshold
    * sits near the top of the degree distribution), over its edge set
    * ([[bigramEdges]]). */
  def wordKCore(e0: DataFrame, k: Int = 24): DataFrame =
    kCore(e0, k)

  /** Synchronous label propagation (Raghavan et al.) over the
    * UNDIRECTED graph — community detection next to [[Dedup.components]]'
    * connectivity: each round every node adopts the most frequent label
    * among its neighbors, ties broken by the SMALLEST label, so the
    * update is a pure function of the previous round and both engines
    * land identically (classic async LPA is order-dependent — useless
    * as a gate). Runs a FIXED `iters` rounds rather than to
    * convergence: synchronous LPA can 2-cycle on bipartite structure,
    * so "round-`iters` labels" is the well-defined contract, exactly
    * unrolled by the oracle.
    *
    * The argmax is `min(struct(-count, label))` — one combinable
    * aggregation, no per-node window sort; per round: one shuffle on
    * dst (neighbor-label join) and one on (src, label). Node frames
    * are [[Iterate.fixed]] rounds.
    */
  def labelPropagation(rawEdges: DataFrame, iters: Int): DataFrame = {
    val e0 = rawEdges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val sym = Iterate.materialize(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"))))
    val nodes = Iterate.materialize(sym.select(col("src").as("node")).distinct())
    val labels0 = Iterate.materialize(nodes.withColumn("lbl", col("node")))
    val labels = Iterate.fixed(labels0, iters) { (cur, _) =>
      sym.join(cur, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy("src")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("src").as("node"), col("m.l").as("lbl"))
    }
    Seq(sym, nodes).foreach(Iterate.release(_))
    labels.select(col("node"), col("lbl").as("community")).orderBy("node")
  }

  /** Gate shape: 2-round label propagation on the word graph's edge
    * set ([[bigramEdges]]). */
  def wordCommunities(e0: DataFrame, iters: Int = 2): DataFrame =
    labelPropagation(e0, iters)

  /** Newman modularity of a partition over the undirected `(a < b)`
    * edge set, exact-integer ppm: with m edges, Σᵢₙ intra-community
    * edges, and Dᶜ the community degree sums,
    * Q = Σᵢₙ/m − Σᶜ(Dᶜ/2m)², emitted as
    * `(4m·10⁶·Σᵢₙ − 10⁶·ΣDᶜ²) div 4m²` — one truncation at the very
    * end, so both engines agree bit-for-bit. The standard quality
    * score for any clustering the engine produces (LPA, CC, star CC).
    * Shape: the node-sized label table joins the edges un-hinted (AQE
    * broadcasts it while it fits, shuffles when the node domain
    * outgrows an executor), one degree agg, one community rollup — all
    * output frames are community-sized or single-row; only the two
    * SINGLE-ROW side frames keep explicit broadcast hints.
    */
  def modularity(e0: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("node"), col("community"))
    val intra = e0
      .join(lab.toDF("node", "ca"), col("a") === col("node")).drop("node")
      .join(lab.toDF("node", "cb"), col("b") === col("node")).drop("node")
      .agg(sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("sum_in"))
    val deg = e0.select(col("a").as("node"))
      .unionByName(e0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dsq = deg.join(lab, "node")
      .groupBy("community").agg(sum("deg").as("dc"))
      .agg(sum(expr("dc * dc")).as("sum_dsq"),
        count(lit(1)).as("n_communities"))
    e0.agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(intra)).crossJoin(broadcast(dsq))
      .select(col("m"), col("n_communities"), col("sum_in"), col("sum_dsq"),
        expr("(4 * m * 1000000 * sum_in - 1000000 * sum_dsq) div (4 * m * m)")
          .as("q_ppm"))
  }

  /** [[modularity]] of the 2-round LPA partition of the word graph —
    * the clustering-quality readout next to [[wordCommunities]]
    * itself. Both consume the same edge set ([[bigramEdges]]).
    */
  def wordModularity(raw: DataFrame, iters: Int = 2): DataFrame = {
    val e0 = raw.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    modularity(e0, labelPropagation(raw, iters))
  }

  /** BFS hop distances over the UNDIRECTED word graph from the
    * lexicographically smallest word — the traversal primitive
    * (single-source shortest path on unit weights) next to the
    * connectivity ([[Dedup.components]]) and centrality ([[pageRank]])
    * operators. Frontier expansion: each round joins the current
    * frontier to the edges, anti-joins the visited set, stamps
    * `dist = round`; a word therefore gets the FIRST (minimal) depth
    * it is reached at. Words not reached within `maxHops` are absent
    * (the oracle walks the identical horizon).
    *
    * Scale shape: one edge-keyed join + one anti-join per round, both
    * frontier-sized; rounds = graph diameter (word graphs are
    * shallow — the star-contraction escape hatch in [[Dedup]] exists
    * for the deep-chain case). The source is a 1-row aggregate
    * cross-joined in, NOT a driver-side fetch; superseded rounds'
    * checkpoints are released like every other iterative loop here.
    * Takes the directed edge set ([[bigramEdges]]).
    */
  def bfsDistances(e0: DataFrame, maxHops: Int = 20): DataFrame = {
    val edges = undirected(e0)
    // min over an EMPTY edge set is one NULL row — drop it, or an
    // empty graph would report a phantom (null, 0) source
    val source = edges.agg(min(col("src")).as("word"))
      .where(col("word").isNotNull)
    bfsCore(edges, source, maxHops).orderBy("word")
  }

  private def undirected(e0: DataFrame): DataFrame =
    e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()

  /** Frontier-expansion BFS from an arbitrary 1-column (word) source
    * frame — the engine behind [[bfsDistances]] and
    * [[diameter2Sweep]]. It carries two frames per round (visited and
    * frontier), so it keeps its own loop over [[Iterate.materialize]]
    * and [[Iterate.release]].
    */
  private def bfsCore(edges: DataFrame, source: DataFrame,
                      maxHops: Int): DataFrame = {
    var visited = Iterate.materialize(
      source.select(col("word")).withColumn("dist", lit(0L)))
    var frontier = visited
    var d = 0L
    var more = true
    while (more && d < maxHops) {
      val next = Iterate.materialize(
        frontier.join(edges, col("word") === col("src"))
          .select(col("dst").as("word")).distinct()
          .join(visited.select("word"), Seq("word"), "left_anti")
          .withColumn("dist", lit(d + 1L)))
      more = next.limit(1).count() > 0
      if (more) {
        val prevVisited = visited
        visited = Iterate.materialize(visited.unionByName(next))
        Iterate.release(prevVisited)
        Iterate.release(frontier)
        frontier = next
        d += 1
      } else Iterate.release(next)
    }
    visited
  }

  /** Two-sweep diameter estimate: BFS from the canonical source, hop
    * to the farthest word found (ties → smallest word), BFS again —
    * the second sweep's eccentricity is the classic diameter lower
    * bound (exact on trees, near-exact on most real graphs, Magnien et
    * al.). One summary row:
    * `(start_word, far_word, far2_word, diameter_lb)`.
    *
    * Scale shape: exactly two [[bfsCore]] runs (frontier-sized joins,
    * diameter-many rounds); the "farthest" picks are 1-row aggregates
    * chained as frames, never driver fetches. Takes the directed edge
    * set ([[bigramEdges]]).
    */
  def diameter2Sweep(e0: DataFrame, maxHops: Int = 20): DataFrame = {
    val edges = undirected(e0)
    val start = edges.agg(min(col("src")).as("word"))
      .where(col("word").isNotNull)
    val b1 = bfsCore(edges, start, maxHops)
    val far1 = b1.orderBy(col("dist").desc, col("word")).limit(1)
      .localCheckpoint()
    val b2 = bfsCore(edges, far1.select("word"), maxHops)
    val far2 = b2.orderBy(col("dist").desc, col("word")).limit(1)
    start.select(col("word").as("start_word"))
      .crossJoin(far1.select(col("word").as("far_word")))
      .crossJoin(far2.select(col("word").as("far2_word"),
        col("dist").as("diameter_lb")))
  }

  /** Market-basket co-occurrence edges: undirected part pairs bought
    * within the same order, kept at `minSupport` co-occurring orders —
    * the support-counting core of frequent-itemset mining, and a
    * naturally SPARSE similarity graph (unlike the corpus word graph,
    * which is complete on this testdata).
    *
    * Shape: distinct (order, part), then a self-join per order —
    * fan-out is items-per-basket², bounded by basket size, not corpus
    * size (the classic market-basket bound; at 100 TB cap or sample
    * mega-baskets, they're degenerate for support anyway). One shuffle
    * on the order key for the self-join (both sides share it), one on
    * the pair for support counting.
    */
  def copurchaseEdges(lineitem: DataFrame, minSupport: Long = 2L): DataFrame = {
    val op = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.toDF("o", "a")
      .join(op.toDF("o2", "b"), col("o") === col("o2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp"))
      .where(col("supp") >= minSupport)
  }

  /** Association rules over the co-purchase pairs: for every directed
    * rule `a → b` (both directions of each [[copurchaseEdges]] pair),
    * integer fixed-point confidence `supp(ab)·10⁶ div supp(a)` and
    * lift `supp(ab)·nOrders·10⁶ div (supp(a)·supp(b))` — the
    * support/confidence/lift triple of classic market-basket mining,
    * top `topK` by (confidence, lift, rule) — a total order.
    *
    * Shape: item supports are one (part)-keyed agg of the distinct
    * (order, part) frame; rules join pair-support rows to the two
    * item supports on the part keys; the order count is a 1-row
    * broadcast. Overflow-safe while `supp(ab)·nOrders < 2⁶³/10⁶`
    * (≈ 9·10¹² basket-pair incidences — far past 100 TB's realistic
    * support counts after thresholding).
    *
    * Takes the co-purchase pair set (a, b, supp) ([[copurchaseEdges]],
    * staged as [[graft.sources.GraphStage.copurchase]]); item supports
    * and the order count stay live (one distinct (order, part) frame,
    * both rollups reuse its exchange).
    */
  def associationRules(lineitem: DataFrame, pairs: DataFrame,
                       topK: Int = 50): DataFrame = {
    val op = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val nOrders = op.agg(countDistinct(col("o")).as("n_orders"))
    val itemSupp = op.groupBy(col("p")).agg(count(lit(1)).as("s"))
    val directed = pairs
      .select(col("a").as("ante"), col("b").as("cons"), col("supp"))
      .unionByName(pairs
        .select(col("b").as("ante"), col("a").as("cons"), col("supp")))
    directed
      .join(itemSupp.toDF("pa", "sa"), col("ante") === col("pa"))
      .join(itemSupp.toDF("pb", "sb"), col("cons") === col("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("supp"),
        expr("supp * 1000000 div sa").as("conf_ppm"),
        expr("supp * n_orders * 1000000 div (sa * sb)").as("lift_ppm"))
      .orderBy(col("conf_ppm").desc, col("lift_ppm").desc,
        col("ante"), col("cons"))
      .limit(topK)
  }

  /** Hub prune shared by the link-prediction family: keep only
    * adjacency rows whose MIDDLE vertex `w` has degree ≤ `maxDeg`,
    * bounding wedge volume at Σ min(deg, maxDeg)² — the
    * [[Basket.cfNeighbors]] `maxDf` pattern. The degree agg shuffles
    * on `w`, the same key the wedge self-join needs, so the filter
    * adds no extra exchange on the wedge path.
    */
  private def hubPruned(adj: DataFrame, maxDeg: Long): DataFrame = {
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    adj.join(deg.where(col("deg") <= maxDeg).select("w"), "w")
      .select("w", "n")
  }

  /** Resource-allocation link prediction (Zhou et al. 2009): like
    * [[commonNeighborPairs]] but each shared neighbor `w` contributes
    * `1/deg(w)` instead of 1 — a hub connecting half the catalog says
    * little; a rare part bridging two others says a lot. Integer-exact
    * as `Σ 10⁶ div deg(w)` (per-wedge truncation, mirrored verbatim in
    * the oracle). Same wedge bound, with the `maxDeg` hub prune ACTIVE
    * (middles above the cap dropped before fan-out, mirrored in the
    * oracle); the degree frame is one extra (node)-keyed agg joined
    * back at the wedge middle, where it also carries the prune.
    */
  def resourceAllocationPairs(e0: DataFrame, topK: Int = 50,
                              maxDeg: Long = 1000L): DataFrame = {
    val adj = e0.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e0.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    val wadj = adj.join(deg.where(col("deg") <= maxDeg), "w")
    val wedges = wadj.select(col("w"), col("n").as("u"), col("deg"))
      .join(wadj.select(col("w").as("w2"), col("n").as("v")),
        col("w") === col("w2") && col("u") < col("v"))
      .groupBy("u", "v")
      .agg(sum(expr("1000000 div deg")).as("ra_ppm"),
        count(lit(1)).as("n_common"))
    wedges
      .join(e0, wedges("u") === e0("a") && wedges("v") === e0("b"),
        "left_anti")
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("n_common"), col("ra_ppm"))
      .orderBy(col("ra_ppm").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Jaccard link prediction — the third member of the family next to
    * common-neighbors and resource-allocation: for non-adjacent pairs,
    * `|Γ(u)∩Γ(v)|·10⁶ div |Γ(u)∪Γ(v)|` with the union expanded by
    * inclusion–exclusion (`deg_u + deg_v − common`), all exact
    * integers. Normalizing by the union ranks selective overlap above
    * hub-driven overlap — what CN's raw count can't distinguish.
    * Same wedge join + `maxDeg` hub prune + anti-join shape as
    * [[resourceAllocationPairs]]; the endpoint degrees stay FULL-graph
    * degrees (only the wedge middle is pruned), joined un-hinted so
    * AQE decides broadcast vs shuffle by actual size.
    */
  def jaccardLinkPred(e0: DataFrame, topK: Int = 50,
                      maxDeg: Long = 1000L): DataFrame = {
    val adj = e0.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e0.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    val mid = hubPruned(adj, maxDeg)
    val wedges = mid.toDF("w", "u")
      .join(mid.toDF("w2", "v"), col("w") === col("w2") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
    // degree joins un-hinted: `deg` is node-cardinality, which can
    // exceed any broadcast budget at scale — AQE picks the strategy
    wedges
      .join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .join(e0, wedges("u") === e0("a") && wedges("v") === e0("b"),
        "left_anti")
      .select(col("u").as("part_a"), col("v").as("part_b"), col("n_common"),
        expr("n_common * 1000000L div (du + dv - n_common)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Degree assortativity (Newman 2002) of an undirected graph given
    * as normalized `(a < b)` edges: the Pearson correlation of the
    * endpoint degrees over the directed edge list, in exact integers —
    * n·Σxy − Σx·Σy over n·Σx² − (Σx)² (x and y are exchangeable on an
    * undirected edge list, so one denominator suffices), emitted raw
    * plus as a truncating ppm ratio. Positive: hubs link hubs
    * (social-graph shape); negative: hubs link leaves (dependency /
    * recommendation shape). One degree aggregation joined back un-hinted
    * (AQE broadcasts when it fits), one fused five-sum scan — no
    * quadratic anything.
    */
  def degreeAssortativity(e0: DataFrame): DataFrame = {
    val adj = e0.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e0.select(col("b").as("w"), col("a").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    // un-hinted: deg is node-cardinality; AQE broadcasts when small
    adj
      .join(deg.toDF("w", "x"), "w")
      .join(deg.toDF("n", "y"), "n")
      .agg(count(lit(1)).as("n_dir_edges"), sum("x").as("sx"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("n_dir_edges"),
        expr("n_dir_edges * sxy - sx * sx").as("num"),
        expr("n_dir_edges * sxx - sx * sx").as("den"))
      .withColumn("r_ppm", expr("num * 1000000 div den"))
  }

  /** Common-neighbors link prediction over an undirected graph given
    * as normalized edges `(a < b, distinct)`: for every NON-adjacent
    * pair, the number of shared neighbors — the classic "who should be
    * connected next" score — top `topK` by (count desc, a, b) (a total
    * order: pairs are unique). On the co-purchase graph this is
    * item-to-item recommendation ("bought together with the same
    * third parts, never yet together").
    *
    * Shape: wedges are generated at their MIDDLE vertex (neighbor
    * pairs u < v per node), counted per pair — cost Σ deg(w)², the
    * inherent wedge bound — then adjacent pairs leave via LEFT ANTI
    * against the edge set. Two shuffles: wedge keys, then the anti
    * join. The `maxDeg` hub prune (same shape as
    * [[Basket.cfNeighbors]]'s `maxDf`) drops middle vertices above the
    * cap BEFORE the self-join, bounding wedge volume at
    * Σ min(deg, maxDeg)² — one "everyone buys it" part no longer
    * contributes deg² rows. The prune is part of the operator's
    * contract and mirrored verbatim in the oracle; the oriented trick
    * from [[triangleCount]] does NOT apply here — a common neighbor
    * must see BOTH endpoints, whatever their degrees.
    */
  def commonNeighborPairs(e0: DataFrame, topK: Int = 50,
                          maxDeg: Long = 1000L): DataFrame = {
    val adj = e0.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e0.select(col("b").as("w"), col("a").as("n")))
    val mid = hubPruned(adj, maxDeg)
    val wedges = mid.toDF("w", "u")
      .join(mid.toDF("w2", "v"), col("w") === col("w2") && col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
    wedges
      .join(e0, wedges("u") === e0("a") && wedges("v") === e0("b"),
        "left_anti")
      .select(col("u").as("part_a"), col("v").as("part_b"), col("n_common"))
      .orderBy(col("n_common").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Bounded k-truss peel (k = `minSupport` + 2) over the word graph:
    * each round enumerates triangles in the CURRENT graph, credits each
    * of its three edges, and drops edges below `minSupport` triangles;
    * after `rounds` peels the surviving edges are reported with their
    * support in the final graph. A fixed round budget bounds the
    * cohesion refinement the same way the fixed-round SSSP bounds path
    * length; the peel is idempotent at its fixed point, so early
    * convergence equals the unrolled result.
    *
    * Scale shape: each round re-orients the SURVIVING edge set by its
    * current degrees (the [[triangleCount]] pattern — every edge points
    * low-degree → high-degree) before the wedge self-join, so wedge
    * fan-out per node is bounded by oriented out-degree (≤ √m) instead
    * of a hub's full degree exploding C(deg, 2) wedges. The triangle
    * SET and per-edge supports are orientation-independent — edges are
    * re-canonicalized (least, greatest) before the support count, so
    * the SQL oracle's canonical enumeration matches bit-for-bit. Per
    * round: one degree agg + two wedge joins + one edge-keyed count,
    * all edge/triangle-sized; each peel is an [[Iterate.fixed]]
    * round. Takes the directed edge set ([[bigramEdges]]).
    */
  def ktrussEdges(e: DataFrame, minSupport: Long = 2L, rounds: Int = 3,
                  topK: Int = 20): DataFrame = {
    def support(edges: DataFrame): DataFrame = {
      val deg = edges.select(col("ea").as("w"))
        .union(edges.select(col("eb").as("w")))
        .groupBy("w").agg(count(lit(1)).as("d"))
      val withDeg = edges
        .join(deg.toDF("wa", "da"), col("ea") === col("wa"))
        .join(deg.toDF("wb", "db"), col("eb") === col("wb"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("ea") < col("eb"))
      val o = withDeg.select(
        when(aFirst, col("ea")).otherwise(col("eb")).as("src"),
        when(aFirst, col("eb")).otherwise(col("ea")).as("dst"))
      val tris = o.toDF("u", "v")
        .join(o.toDF("u2", "w2"), col("u") === col("u2") && col("v") =!= col("w2"))
        .join(o.toDF("v3", "w3"), col("v") === col("v3") && col("w2") === col("w3"))
        .select(col("u").as("x"), col("v").as("y"), col("w2").as("z"))
      tris.select(explode(array(
          struct(least(col("x"), col("y")).as("ea"),
            greatest(col("x"), col("y")).as("eb")),
          struct(least(col("x"), col("z")).as("ea"),
            greatest(col("x"), col("z")).as("eb")),
          struct(least(col("y"), col("z")).as("ea"),
            greatest(col("y"), col("z")).as("eb")))).as("e"))
        .select(col("e.ea").as("ea"), col("e.eb").as("eb"))
        .groupBy("ea", "eb").agg(count(lit(1)).as("tri_support"))
    }
    val edges0 = Iterate.materialize(e
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("ea"),
        greatest(col("src"), col("dst")).as("eb"))
      .distinct())
    val edges = Iterate.fixed(edges0, rounds) { (cur, _) =>
      support(cur).where(col("tri_support") >= minSupport).select("ea", "eb")
    }
    support(edges)
      .select(col("ea").as("word_a"), col("eb").as("word_b"),
        col("tri_support"))
      .orderBy(col("tri_support").desc, col("word_a"), col("word_b"))
      .limit(topK)
  }

  /** Bounded multi-source BFS closeness over the co-purchase graph:
    * from the `nSeeds` highest-degree parts (ties to the smaller id),
    * expand `rounds` BFS hops and report each seed's reach and
    * distance mass — `closeness_ppm = n_reached·10⁶ div sum_dist`,
    * the within-radius closeness centrality (exact division-free
    * integers; a radius-bounded closeness is what's computable at all
    * on a 100 TB graph — full closeness is all-pairs).
    *
    * Scale shape: the frontier frame is (seed × reached) rows, keyed
    * and shuffled on `node` per hop — multi-source BFS batches all
    * seeds through ONE join per round instead of one traversal per
    * seed; each hop is an [[Iterate.fixed]] round. Degree table and
    * seed list are part-domain-sized. Takes the normalized co-purchase
    * edge set (a, b) ([[copurchaseEdges]], staged as
    * [[graft.sources.GraphStage.copurchase]]).
    */
  def closenessBfs(e0: DataFrame, nSeeds: Int = 5,
                   rounds: Int = 3): DataFrame = {
    val edges = Iterate.materialize(e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v"))))
    val seeds = edges.groupBy("u").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("u")).limit(nSeeds)
      .select(col("u").as("seed"))
    val dist0 = Iterate.materialize(seeds
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist")))
    val dist = Iterate.fixed(dist0, rounds) { (cur, _) =>
      val expanded = cur.join(edges, col("node") === col("u"))
        .select(col("seed"), col("v").as("node"),
          (col("dist") + 1L).as("dist"))
      cur.unionByName(expanded)
        .groupBy("seed", "node").agg(min("dist").as("dist"))
    }
    Iterate.release(edges)
    dist.groupBy("seed").agg(
        (count(lit(1)) - 1L).as("n_reached"),
        sum("dist").as("sum_dist"))
      .withColumn("closeness_ppm",
        when(col("sum_dist") === 0L, 0L)
          .otherwise(expr("n_reached * 1000000L div sum_dist")))
      .orderBy("seed")
  }

  /** Weighted single-source shortest paths over the word adjacency
    * graph — Bellman-Ford with a FIXED round budget. Edge cost is
    * `10⁶ div multiplicity` (frequent collocations are "close"),
    * symmetrized by summing both directions' multiplicities; the source
    * is the lexicographically smallest node (deterministic). Each round
    * folds `dist ∪ relax(dist)` through a min-aggregate, which is
    * bit-identical to the oracle's unrolled CTE chain.
    *
    * Scale shape: one shuffle per round — the relax join on src (edges
    * co-keyed) plus the min groupBy on word; the dist frame is
    * node-sized, never path-sized, and each round is an
    * [[Iterate.fixed]] round, which keeps the lineage flat. A fixed round
    * budget is the honest contract at 100 TB: k rounds bound every
    * shortest path that uses ≤ k hops, and diameter-chasing belongs to
    * the adaptive CC family ([[graft.operators.Dedup.componentsAdaptive]]).
    * Takes the multigraph counts ([[bigramEdgeCounts]]).
    */
  def ssspWords(counts: DataFrame, rounds: Int = 6): DataFrame = {
    val edges = Iterate.materialize(counts.unionByName(
        counts.select(col("dst").as("src"), col("src").as("dst"), col("cnt")))
      .groupBy("src", "dst").agg(sum("cnt").as("cnt"))
      .select(col("src"), col("dst"), expr("1000000L div cnt").as("cost")))
    val dist0 = Iterate.materialize(edges.agg(min(col("src")).as("word"))
      .where(col("word").isNotNull)
      .withColumn("dist", lit(0L)))
    val dist = Iterate.fixed(dist0, rounds) { (cur, _) =>
      val relaxed = cur.join(edges, col("word") === col("src"))
        .select(col("dst").as("word"), (col("dist") + col("cost")).as("dist"))
      cur.unionByName(relaxed)
        .groupBy("word").agg(min("dist").as("dist"))
    }
    Iterate.release(edges)
    dist.orderBy("word")
  }

  /** Bowtie decomposition of the DIRECTED word-adjacency graph
    * (Broder et al. 2000, "Graph structure in the Web") relative to
    * the canonical pivot (lexicographic-min node): forward BFS gives
    * the nodes the pivot reaches, backward BFS (edges reversed) the
    * nodes that reach the pivot; their intersection is EXACTLY the
    * pivot's strongly connected component, the remainders are the
    * classic `in` / `out` wings, and nodes in neither are `disc`. One
    * row per nonempty class with count and min/max member.
    *
    * This is the FW-BW pivot step of distributed SCC algorithms — two
    * frontier BFS sweeps (each round one join keyed on the frontier +
    * one anti-join, nothing quadratic), which is why it scales where
    * any pairwise mutual-reachability formulation cannot. The oracle
    * mirrors both sweeps as depth-capped recursive CTEs.
    *
    * Takes the directed edge set ([[bigramEdges]]) already
    * materialized: both BFS sweeps re-join the frame, so the caller
    * passes a checkpointed one.
    */
  def bowtie(e: DataFrame, maxHops: Int = 20): DataFrame = {
    val nodes = e.select(col("src").as("word"))
      .union(e.select(col("dst").as("word"))).distinct().localCheckpoint()
    val pivot = nodes.agg(min(col("word")).as("word"))
      .where(col("word").isNotNull)
    val fwd = bfsCore(e, pivot, maxHops)
      .select(col("word")).withColumn("f", lit(1))
    val bwd = bfsCore(e.select(col("dst").as("src"), col("src").as("dst")),
        pivot, maxHops)
      .select(col("word")).withColumn("b", lit(1))
    nodes
      .join(fwd, Seq("word"), "left")
      .join(bwd, Seq("word"), "left")
      .select(col("word"),
        when(col("f").isNotNull && col("b").isNotNull, lit("scc"))
          .when(col("f").isNotNull, lit("out"))
          .when(col("b").isNotNull, lit("in"))
          .otherwise(lit("disc")).as("cls"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_nodes"),
        min("word").as("min_word"), max("word").as("max_word"))
      .orderBy("cls")
  }

  /** Deterministic DeepWalk-style walk corpus over the directed
    * word-adjacency graph — the graph-embedding training-data op: the
    * emitted paths ARE the sentences a skip-gram model trains on.
    * `nWalks` walks of `len` steps start from every node with
    * out-edges; step t of walker r at node v moves to
    * `nb[h(v,t,r) mod |nb|]` where nb is the sorted distinct neighbor
    * list capped at `maxNeighbors` (deterministic prefix — the hub
    * bound) and h is the dual-engine md5-prefix hash, so both engines
    * walk the identical pseudo-random trajectory. Dead ends absorb.
    *
    * Scale shape: adjacency is node-sized with bounded lists; the walk
    * frontier is |V|·nWalks rows; each step is ONE keyed join on the
    * current node — len shuffles total, no driver state, no explosion
    * (frontier cardinality is invariant across steps). Takes the
    * directed edge set ([[bigramEdges]]).
    */
  def walkCorpus(e0: DataFrame, nWalks: Int = 2, len: Int = 3,
                 maxNeighbors: Int = 64): DataFrame = {
    val adj = e0
      .groupBy(col("src"))
      .agg(slice(sort_array(collect_set(col("dst"))), 1, maxNeighbors).as("nb"))
      .localCheckpoint()
    val start = adj
      .select(col("src").as("start"),
        explode(expr(s"sequence(0, ${nWalks - 1})")).as("w"))
      .select(col("start"), col("w").cast("long").as("walk"),
        col("start").as("cur"), col("start").as("path"))
    def step(walks: DataFrame, t: Int): DataFrame =
      walks.join(adj, walks("cur") === adj("src"), "left")
        .select(col("start"), col("walk"),
          expr(s"""element_at(nb, cast(1 + pmod(
                  |  cast(conv(substr(md5(concat(cur, ':', '$t', ':', cast(walk AS string))), 1, 15), 16, 10) AS bigint),
                  |  size(nb)) AS int))""".stripMargin).as("nx"),
          col("cur"), col("path"))
        .select(col("start"), col("walk"),
          coalesce(col("nx"), col("cur")).as("cur"),
          when(col("nx").isNull, col("path"))
            .otherwise(concat(col("path"), lit(" "), col("nx"))).as("path"))
    // the first step is the loop's seed: the start frame is a plan over
    // the checkpointed adjacency, not worth a materialization of its own
    val walks =
      if (len == 0) start
      else Iterate.fixed(Iterate.materialize(step(start, 0)), len - 1) {
        (cur, t) => step(cur, t + 1)
      }
    walks.select(col("start"), col("walk"), col("path"))
      .orderBy("start", "walk")
  }
}
