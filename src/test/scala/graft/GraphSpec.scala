package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("bigramEdges are distinct consecutive pairs") {
    val d = docs(1L -> "a b a b", 2L -> "b c")
    val got = Graph.triangleCount(Graph.bigramEdges(d))  // no triangle in a path graph
    assert(got.collect().head.getLong(0) == 0L)
    val edges = Graph.bigramEdges(d).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("a", "b"), ("b", "a"), ("b", "c")))
  }

  test("triangleCount finds each triangle exactly once") {
    // K4 on {a,b,c,d} = 4 triangles; build via a doc walking all edges
    val d = docs(1L -> "a b c a d b d c d a c b")
    // edges: ab bc ca ad db bd dc cd da ac cb -> all 6 undirected pairs
    val n = Graph.triangleCount(Graph.bigramEdges(d)).collect().head.getLong(0)
    assert(n == 4L)
  }

  test("personalizedPageRank: mass stays near the seed, unreachable nodes get 0") {
    import org.apache.spark.sql.functions.col
    // a -> b -> c and an isolated pair x -> y; seed = {a}
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val init = 1000000000000L
    val jump = init * 15 / 100
    // a: teleport only (nothing flows in); x/y: no seed mass ever
    assert(got("a") == jump)
    assert(got("x") == 0L && got("y") == 0L)
    // b gets 85% of a's rank each round; c is downstream and smaller
    assert(got("b") > got("c") && got("c") > 0L)
  }

  test("wordPpr seeds rank at the top of their own neighborhood") {
    val d = Tables.documents(spark, sf0001)
    val pr = Graph.wordPpr(d, Graph.bigramEdges(d)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(pr.nonEmpty && pr.map(_._2).toSeq == pr.map(_._2).toSeq.sorted.reverse)
    // seeded mass must be concentrated: some node holds rank > 0 and
    // at least one node is exactly 0 (unreachable from the 2 seeds)
    assert(pr.head._2 > 0L)
  }

  test("hits: hub mass concentrates on the fan-out node, auth on the shared target") {
    import org.apache.spark.sql.functions.col
    // h -> {a,b,c}, d -> a: a is the strongest authority (two hubs),
    // h the strongest hub (three authorities)
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("d", "a")).toDF("src", "dst")
    val got = Graph.hits(edges, iters = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // iter1: rawAuth a=2e6,b=c=1e6 -> max-norm a=1e6,b=c=5e5; rawHub
    // h=2e6, d=1e6 -> h=1e6, d=5e5. iter2: rawAuth a=1.5e6, b=c=1e6 ->
    // a=1e6, b=c=666666; rawHub h=2333332, d=1e6 -> h=1e6, d=428571.
    assert(got("a") == ((1000000L, 0L)))
    assert(got("b") == ((666666L, 0L)) && got("c") == ((666666L, 0L)))
    assert(got("h") == ((0L, 1000000L)))
    assert(got("d") == ((0L, 428571L)))
  }

  test("pageRankWeighted: rank flows in proportion to edge weight") {
    import org.apache.spark.sql.functions.col
    // a splits its mass 3:1 between b and c; unweighted would split 1:1
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val got = Graph.pageRankWeighted(edges, iters = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val init = 1000000000000L
    val jump = init * 15 / 100
    assert(got("b") == jump + 85L * (init * 3 / 4) / 100)
    assert(got("c") == jump + 85L * (init / 4) / 100)
    assert(got("a") == jump)
  }

  test("labelPropagation: two cliques joined by a bridge form two communities") {
    import org.apache.spark.sql.functions.col
    // clique {a,b,c}, clique {x,y,z}, bridge c-x; after 2 synchronous
    // rounds each clique converges on its smallest member's label
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // exact synchronous trace: round 1 gives a→b, b→a, c→a, x→c,
    // y→x, z→x; round 2 resolves the abc clique to "a" while the
    // bridge label "c" (x's round-1 label) propagates into y/z —
    // the documented synchronous-update behavior, deterministic
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "c", "z" -> "c"))
  }

  test("kCore: cascading peel removes the tail hanging off a triangle") {
    import org.apache.spark.sql.functions.col
    // triangle a-b-c plus a chain c-d-e: 2-core = the triangle only
    // (e peels first, THEN d — the cascade needs two rounds)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val got = Graph.kCore(edges, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // k=3: the triangle itself dies -> empty core
    assert(Graph.kCore(edges, k = 3).collect().isEmpty)
  }

  test("bfsDistances: first-reach depths on a chain with a shortcut") {
    // chain a-b-c-d plus shortcut a-d: d is 1 hop via the shortcut
    val d = docs(1L -> "a b", 2L -> "b c", 3L -> "c d", 4L -> "a d")
    val got = Graph.bfsDistances(Graph.bigramEdges(d)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 1L))
  }

  test("bfsDistances: maxHops bounds the horizon; unreached words absent") {
    val d = docs(1L -> "a b", 2L -> "b c", 3L -> "c d", 4L -> "x y")
    val got = Graph.bfsDistances(Graph.bigramEdges(d), maxHops = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // d is 3 hops away -> outside the horizon; x/y disconnected
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("copurchaseEdges: per-order distinct, pair support thresholded") {
    // orders 1,2 both contain {10,20}; order 1 lists part 10 twice
    // (distinct collapses it); pair (10,30) appears in ONE order only
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
        (2L, 10L), (2L, 20L), (3L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.copurchaseEdges(li).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((10L, 20L) -> 2L))
  }

  test("associationRules: ppm confidence and lift, both directions") {
    // baskets: {10,20}, {10,20}, {10,30}, {30} -> supports 10:3, 20:2,
    // 30:2; only pair (10,20) reaches supp 2; nOrders = 4
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
        (3L, 10L), (3L, 30L), (4L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.associationRules(li, Graph.copurchaseEdges(li)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    // 20→10: conf 2/2 = 1e6; 10→20: conf 2/3 = 666666 (truncated);
    // lift both = 2·4·10⁶ / (3·2) = 1333333
    assert(got.toMap == Map(
      (20L, 10L) -> ((2L, 1000000L, 1333333L)),
      (10L, 20L) -> ((2L, 666666L, 1333333L))))
    // ordering: confidence desc first
    assert(got.map(_._1).toSeq == Seq((20L, 10L), (10L, 20L)))
  }

  test("commonNeighborPairs scores non-adjacent pairs by shared neighbors") {
    // square a-b-c-d-a: diagonals (a,c) and (b,d) share 2 neighbors;
    // pendant e off a: (b,e)/(d,e) share only a
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "e"))
      .toDF("a", "b")
    val got = Graph.commonNeighborPairs(e0).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(got.toMap == Map(("a", "c") -> 2L, ("b", "d") -> 2L,
      ("b", "e") -> 1L, ("d", "e") -> 1L))
    // ordering: count desc, then lexicographic pair
    assert(got.map(_._1).toSeq ==
      Seq(("a", "c"), ("b", "d"), ("b", "e"), ("d", "e")))
  }

  test("modularity: two cliques perfectly split score Q = 1/2") {
    val e0 = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f")).toDF("a", "b")
    val labels = Seq(("a", "x"), ("b", "x"), ("c", "x"),
      ("d", "y"), ("e", "y"), ("f", "y")).toDF("node", "community")
    val r = Graph.modularity(e0, labels).collect().head
    // m=6, sum_in=6, D = 6 per community -> Q = 1 - 2*(1/2)^2 = 1/2
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((6L, 2L, 6L, 72L, 500000L)))
    // merging everything into one community is worse: Q = 0
    val one = labels.withColumn("community",
      org.apache.spark.sql.functions.lit("z"))
    assert(Graph.modularity(e0, one).collect().head.getLong(4) == 0L)
  }

  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("a", "b")
    val r = Graph.degreeAssortativity(star).collect().head
    // dir edges: (3,1)x3 and (1,3)x3 -> num = 6*18-144 = -36, den = 36
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((6L, -36L, 36L, -1000000L)))
  }

  test("resourceAllocation discounts hub-mediated pairs that commonNeighbors ties") {
    // (p,q) share one LOW-degree neighbor m (deg 2); all pairs among
    // s1..s4 share only the hub h (deg 4). Common-neighbors ties them
    // all at 1; RA ranks (p,q) (500000 ppm) over the hub pairs (250000).
    val e0 = Seq(("m", "p"), ("m", "q"),
      ("h", "s1"), ("h", "s2"), ("h", "s3"), ("h", "s4")).toDF("a", "b")
    val got = Graph.resourceAllocationPairs(e0).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3)))
    val byPair = got.map(x => x._1 -> x._3).toMap
    assert(byPair(("p", "q")) == 500000L)
    assert(byPair(("s1", "s2")) == 250000L && byPair.size == 7)
    assert(got.forall(_._2 == 1L)) // CN is blind: every pair has 1 witness
    assert(got.head._1 == ("p", "q")) // RA is not
  }

  // ----------------------------------- session staging (round 15)

  test("GraphStage staged co-purchase edges == live derivation, " +
    "gate-for-gate, and derive-once") {
    import graft.sources.GraphStage
    val li = Tables.lineitem(spark, sf0001)
    // edge rows identical (a, b, supp)
    val staged = GraphStage.copurchase(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val live = Graph.copurchaseEdges(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(staged == live && staged.nonEmpty)
    // a staged consumer gate equals its live form (assoc rules carry
    // the support values through arithmetic, so a wrong supp breaks it)
    assert(Graph.associationRules(li,
        GraphStage.copurchase(spark, sf0001)).collect().toSeq ==
      Graph.associationRules(li, Graph.copurchaseEdges(li)).collect().toSeq)
    // ...and the BFS consumer
    assert(Graph.closenessBfs(
        GraphStage.copurchase(spark, sf0001).select("a", "b"))
        .collect().toSeq ==
      Graph.closenessBfs(Graph.copurchaseEdges(li).select("a", "b"))
        .collect().toSeq)
    // derive-once: the second staged handle is the same checkpointed
    // frame, not a re-derivation
    assert(GraphStage.copurchase(spark, sf0001).queryExecution.analyzed
      .sameResult(GraphStage.copurchase(spark, sf0001).queryExecution.analyzed))
  }

  test("GraphStage staged word edges == live derivation, gate-for-gate") {
    import graft.sources.GraphStage
    val d = Tables.documents(spark, sf0001)
    // the staged counts equal the live multigraph derivation...
    val staged = GraphStage.wordEdgeCounts(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val live = Graph.bigramEdgeCounts(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(staged == live && staged.nonEmpty)
    // ...and the derived key set equals bigramEdges
    assert(GraphStage.wordEdges(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet ==
      Graph.bigramEdges(d).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet)
    // staged consumers equal their live forms: an iterative unweighted
    // gate, the weighted family, and an undirected-derivation gate
    assert(Graph.wordPageRank(GraphStage.wordEdges(spark, sf0001))
        .collect().toSeq ==
      Graph.wordPageRank(Graph.bigramEdges(d)).collect().toSeq)
    assert(Graph.ssspWords(GraphStage.wordEdgeCounts(spark, sf0001))
        .collect().toSeq ==
      Graph.ssspWords(Graph.bigramEdgeCounts(d)).collect().toSeq)
    assert(Graph.bfsDistances(GraphStage.wordEdges(spark, sf0001))
        .collect().toSeq ==
      Graph.bfsDistances(Graph.bigramEdges(d)).collect().toSeq)
  }
}
