package graft
package gates

import graft.operators.{Dedup, Graph, TextAnalysis}
import OracleSql.{SqlWs, sqlWords}

/** Graph gates over the word-adjacency graph and the part co-purchase
  * graph: PageRank variants, walks, triangles, cores, trusses,
  * communities, shortest paths and link prediction.
  */
object GraphGates {

  /** Unrolled bounded k-truss peel for `word_ktruss_edges` — per round
    * a canonical x<y<z triangle enumeration, per-edge support count,
    * and the support filter; the final round's support is reported.
    * Mirrors [[operators.Graph.ktrussEdges]] peel for peel.
    */
  private def ktrussOracle(minSupport: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing (same trap as the k-core oracle):
    // every s$i references t$i three times and t$i its edge CTE three
    // times, so inlining compounds ~9x per peel round — the unrolled
    // 3-round oracle re-evaluates the document scan thousands of times
    // (>7 min at sf0.01) while the materialized form runs in <1 s.
    def tri(i: Int, src: String) =
      s"""t$i AS MATERIALIZED (SELECT a.ea AS x, a.eb AS y, b.eb AS z
         |  FROM $src a JOIN $src b ON a.ea = b.ea AND a.eb < b.eb
         |  JOIN $src c ON c.ea = a.eb AND c.eb = b.eb),
         |s$i AS MATERIALIZED (SELECT ea, eb, count(*)::BIGINT AS cnt FROM (
         |  SELECT x AS ea, y AS eb FROM t$i
         |  UNION ALL SELECT x, z FROM t$i
         |  UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""${tri(i, s"e${i - 1}")},
         |e$i AS MATERIALIZED (SELECT ea, eb FROM s$i WHERE cnt >= $minSupport)""".stripMargin
    }.mkString(",\n")
    val fin = rounds + 1
    s"""WITH p0 AS MATERIALIZED (SELECT ws[i+1] AS s, ws[i+2] AS t
       |  FROM (SELECT $SqlWs AS ws FROM documents),
       |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
       |  WHERE len(ws) >= 2),
       |e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS ea, greatest(s, t) AS eb
       |  FROM p0 WHERE s != t),
       |$steps,
       |${tri(fin, s"e$rounds")}
       |SELECT ea AS word_a, eb AS word_b, cnt AS tri_support
       |FROM s$fin ORDER BY tri_support DESC, word_a, word_b
       |LIMIT 20""".stripMargin
  }

  /** Unrolled Bellman-Ford for `word_sssp` — each step is
    * `min(dist ∪ relax(dist))`, mirroring
    * [[operators.Graph.ssspWords]]'s fold round for round.
    */
  private def ssspOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (SELECT word, CAST(min(dist) AS BIGINT) AS dist FROM (
         |  SELECT word, dist FROM d${i - 1} UNION ALL
         |  SELECT e.dst, d.dist + e.cost FROM d${i - 1} d
         |  JOIN w e ON e.src = d.word) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT ws[i+1] AS src, ws[i+2] AS dst,
       |    count(*)::BIGINT AS cnt
       |  FROM (SELECT $SqlWs AS ws FROM documents),
       |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
       |  WHERE len(ws) >= 2 GROUP BY 1, 2),
       |w AS (SELECT src, dst, CAST(1000000 // cnt AS BIGINT) AS cost FROM (
       |  SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT src, dst, cnt FROM e0
       |    UNION ALL SELECT dst, src, cnt FROM e0) GROUP BY 1, 2)),
       |d0 AS (SELECT (SELECT min(src) FROM w) AS word, 0::BIGINT AS dist),
       |$steps
       |SELECT word, dist FROM d$rounds ORDER BY word""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // PageRank over the word-adjacency graph: integer-scaled damped
    // power iteration, 3 unrolled rounds in the oracle
    Gate("word_pagerank", (s, dir) =>
      Graph.wordPageRank(graft.sources.GraphStage.wordEdges(s, dir)),
      {
        val init = 1000000000000L
        val jump = init * 15 / 100
        val iters = 3
        val base =
          s"""edges AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
             |outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
             |r0 AS (SELECT node, CAST($init AS BIGINT) AS rank FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""r$i AS (SELECT n.node,
             |  CAST($jump AS BIGINT) + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(sum(r.rank // o.odeg) AS BIGINT) AS inflow
             |    FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
             |    GROUP BY 1) f ON n.node = f.dst)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"\nSELECT node, rank FROM r$iters ORDER BY rank DESC, node"
      }),
    // seeded teleport: rank = proximity to the top-2 corpus words
    Gate("word_ppr", (s, dir) =>
      Graph.wordPpr(Tables.documents(s, dir),
        graft.sources.GraphStage.wordEdges(s, dir)),
      // personalized variant: same unrolled recurrence, teleport mass
      // confined to the derived 2-word seed set
      {
        val init = 1000000000000L
        val jump = init * 15 / 100
        val iters = 3
        val base =
          s"""edges AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
             |outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
             |seeds AS (SELECT word AS node FROM (
             |  SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY 1)
             |  ORDER BY cnt DESC, word LIMIT 2),
             |r0 AS (SELECT node, CAST(CASE WHEN node IN (SELECT node FROM seeds)
             |  THEN $init ELSE 0 END AS BIGINT) AS rank FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""r$i AS (SELECT n.node,
             |  CAST(CASE WHEN n.node IN (SELECT node FROM seeds) THEN $jump ELSE 0 END AS BIGINT)
             |    + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(sum(r.rank // o.odeg) AS BIGINT) AS inflow
             |    FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
             |    GROUP BY 1) f ON n.node = f.dst)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"\nSELECT node, rank FROM r$iters ORDER BY rank DESC, node"
      }),
    // degree-oriented wedge-join triangle count of the same word graph
    Gate("word_triangles", (s, dir) =>
      Graph.triangleCount(Graph.bigramEdges(Tables.documents(s, dir))),
      s"""WITH edges AS (SELECT DISTINCT ws[i+1] AS s, ws[i+2] AS t
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2),
         |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |  FROM edges WHERE s <> t),
         |deg AS (SELECT w, count(*) AS d FROM
         |  (SELECT a AS w FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         |o AS (SELECT
         |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b END AS src,
         |    CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a END AS dst
         |  FROM e0 JOIN deg da ON e0.a = da.w JOIN deg db ON e0.b = db.w)
         |SELECT count(*) AS n_triangles FROM o e1
         |JOIN o e2 ON e1.src = e2.src AND e1.dst <> e2.dst
         |JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst""".stripMargin),
    // BFS hop distances from the smallest word (frontier expansion)
    Gate("word_bfs_dist", (s, dir) =>
      Graph.bfsDistances(graft.sources.GraphStage.wordEdges(s, dir)),
      // recursive-CTE BFS: UNION (not UNION ALL) dedups (word, dist)
      // rows per step, so paths collapse and the recursion is bounded by
      // nodes × maxHops; min(dist) per word = first-reach depth
      s"""WITH RECURSIVE e0 AS (SELECT DISTINCT ws[i+1] AS s, ws[i+2] AS t
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2),
         |edges AS (SELECT s AS src, t AS dst FROM e0
         |          UNION SELECT t, s FROM e0),
         |bfs AS (
         |  SELECT (SELECT min(src) FROM edges) AS word, 0 AS dist
         |  UNION
         |  SELECT e.dst, b.dist + 1 FROM bfs b
         |  JOIN edges e ON e.src = b.word WHERE b.dist < 20)
         |SELECT word, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin),
    // HITS hubs/authorities: integer max-normalized half-steps,
    // 2 unrolled rounds in the oracle
    Gate("word_hits", (s, dir) =>
      Graph.wordHits(graft.sources.GraphStage.wordEdges(s, dir)),
      // HITS: two half-steps per round (auth <- sum in-hub, hub <- sum
      // out-auth), integer MAX-normalization after each — the scalar max
      // is a subquery, mirroring the 1-row broadcast on the Spark side
      {
        val init = 1000000L
        val iters = 2
        val base =
          s"""edges AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
             |h0 AS (SELECT node, CAST($init AS BIGINT) AS hub FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""a${i}r AS (SELECT e.dst, CAST(sum(h.hub) AS BIGINT) AS a
             |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
             |a$i AS (SELECT n.node,
             |  COALESCE(r.a, 0) * $init // (SELECT max(a) FROM a${i}r) AS auth
             |  FROM nodes n LEFT JOIN a${i}r r ON n.node = r.dst),
             |h${i}r AS (SELECT e.src, CAST(sum(a.auth) AS BIGINT) AS h
             |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
             |h$i AS (SELECT n.node,
             |  COALESCE(r.h, 0) * $init // (SELECT max(h) FROM h${i}r) AS hub
             |  FROM nodes n LEFT JOIN h${i}r r ON n.node = r.src)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"""\nSELECT a.node, a.auth, h.hub FROM a$iters a JOIN h$iters h USING (node)
             |ORDER BY auth DESC, node""".stripMargin
      }),
    // 24-core by iterative peeling (order-independent fixpoint)
    Gate("word_kcore", (s, dir) =>
      Graph.wordKCore(graft.sources.GraphStage.wordEdges(s, dir)),
      // k-core: 10 unrolled peel rounds; peeling is monotone, so the
      // rounds past convergence are no-ops and the Spark side (which
      // iterates to convergence, throwing past 10) lands identically.
      // MATERIALIZED is load-bearing: each round references the prior
      // edge CTE three times, and DuckDB's default inlining would
      // re-expand the chain 3^rounds times
      {
        val k = 24
        val rounds = 10
        val base =
          s"""raw AS MATERIALIZED (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |p AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
             |       UNION ALL SELECT b AS src, a AS dst FROM p)""".stripMargin
        val iterCtes = (1 to rounds).map { i =>
          s"""k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY 1 HAVING count(*) >= $k),
             |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
             |  WHERE e.src IN (SELECT src FROM k$i)
             |    AND e.dst IN (SELECT src FROM k$i))""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"\nSELECT src AS node, count(*)::BIGINT AS deg FROM e$rounds GROUP BY 1 ORDER BY 1"
      }),
    // rank flow proportional to bigram occurrence counts
    Gate("word_pagerank_weighted", (s, dir) =>
      Graph.wordPageRankWeighted(graft.sources.GraphStage.wordEdgeCounts(s, dir)),
      // weighted variant: inflow shares proportional to bigram counts
      {
        val init = 1000000000000L
        val jump = init * 15 / 100
        val iters = 3
        val base =
          s"""edges AS (SELECT ws[i+1] AS src, ws[i+2] AS dst, count(*)::BIGINT AS w
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2 GROUP BY 1, 2),
             |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
             |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
             |r0 AS (SELECT node, CAST($init AS BIGINT) AS rank FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""r$i AS (SELECT n.node,
             |  CAST($jump AS BIGINT) + (85 * COALESCE(f.inflow, 0)) // 100 AS rank
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inflow
             |    FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN outw o ON e.src = o.src
             |    GROUP BY 1) f ON n.node = f.dst)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"\nSELECT node, rank FROM r$iters ORDER BY rank DESC, node"
      }),
    // synchronous LPA communities, 2 deterministic rounds
    Gate("word_communities", (s, dir) =>
      Graph.wordCommunities(graft.sources.GraphStage.wordEdges(s, dir)),
      // synchronous LPA: adopt the most frequent neighbor label, ties to
      // the smallest — a pure function of the prior round, so 2 unrolled
      // rounds land identically on both engines
      {
        val iters = 2
        val base =
          s"""raw AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |p AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |e0 AS (SELECT a AS src, b AS dst FROM p
             |       UNION ALL SELECT b AS src, a AS dst FROM p),
             |nodes AS (SELECT DISTINCT src AS node FROM e0),
             |l0 AS (SELECT node, node AS lbl FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""c$i AS (SELECT e.src, l.lbl, count(*) AS c
             |  FROM e0 e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
             |l$i AS (SELECT src AS node, lbl FROM (
             |  SELECT src, lbl, row_number() OVER (PARTITION BY src
             |    ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s"\nSELECT node, lbl AS community FROM l$iters ORDER BY node"
      }),
    // Newman modularity of the LPA partition, exact-integer ppm
    Gate("word_modularity", (s, dir) =>
      Graph.wordModularity(graft.sources.GraphStage.wordEdges(s, dir)),
      {
        val iters = 2
        val base =
          s"""raw AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |p AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |e0 AS (SELECT a AS src, b AS dst FROM p
             |       UNION ALL SELECT b AS src, a AS dst FROM p),
             |nodes AS (SELECT DISTINCT src AS node FROM e0),
             |l0 AS (SELECT node, node AS lbl FROM nodes)""".stripMargin
        val iterCtes = (1 to iters).map { i =>
          s"""c$i AS (SELECT e.src, l.lbl, count(*) AS c
             |  FROM e0 e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
             |l$i AS (SELECT src AS node, lbl FROM (
             |  SELECT src, lbl, row_number() OVER (PARTITION BY src
             |    ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
        }
        (base +: iterCtes).mkString("WITH ", ",\n", "") +
          s""",
             |ulab AS (SELECT node, lbl AS community FROM l$iters),
             |intra AS (SELECT CAST(sum(
             |    CASE WHEN la.community = lb.community THEN 1 ELSE 0 END)
             |    AS BIGINT) AS sum_in
             |  FROM p JOIN ulab la ON p.a = la.node
             |         JOIN ulab lb ON p.b = lb.node),
             |dg AS (SELECT node, count(*)::BIGINT AS deg FROM (
             |    SELECT a AS node FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
             |ds AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_dsq,
             |    count(*)::BIGINT AS n_communities FROM (
             |    SELECT community, CAST(sum(deg) AS BIGINT) AS dc
             |    FROM dg JOIN ulab USING (node) GROUP BY 1)),
             |mm AS (SELECT count(*)::BIGINT AS m FROM p)
             |SELECT m, n_communities, sum_in, sum_dsq,
             |  CAST((4 * m * 1000000 * sum_in - 1000000 * sum_dsq)
             |    // (4 * m * m) AS BIGINT) AS q_ppm
             |FROM mm, intra, ds""".stripMargin
      }),
    // market-basket support counting: part pairs co-bought in ≥2 orders
    Gate("part_copurchase", (s, dir) =>
      Graph.copurchaseEdges(Tables.lineitem(s, dir))
        .orderBy(org.apache.spark.sql.functions.col("supp").desc,
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"))
        .limit(100)
        .withColumnRenamed("a", "part_a").withColumnRenamed("b", "part_b"),
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS supp
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, supp FROM e
        |ORDER BY supp DESC, part_a, part_b LIMIT 100""".stripMargin),
    // common-neighbors link prediction on the co-purchase graph:
    // item-to-item recommendation over NON-adjacent part pairs
    Gate("part_link_pred", (s, dir) =>
      Graph.commonNeighborPairs(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS w, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |dg AS (SELECT w, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
        |mid AS (SELECT adj.w, adj.n FROM adj JOIN dg ON adj.w = dg.w
        |  WHERE dg.deg <= 1000),
        |cn AS (SELECT n1.n AS u, n2.n AS v, count(*) AS n_common
        |  FROM mid n1 JOIN mid n2 ON n1.w = n2.w AND n1.n < n2.n GROUP BY 1, 2)
        |SELECT u AS part_a, v AS part_b, n_common FROM cn
        |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = cn.u AND e0.b = cn.v)
        |ORDER BY n_common DESC, part_a, part_b LIMIT 50""".stripMargin),
    // per-node local clustering coefficient on the co-purchase graph
    // (ppm): tree-like hubs score 0, clique members 10^6
    Gate("part_clustering_coeff", (s, dir) =>
      Graph.clusteringCoefficients(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      // undirected triangle enumeration is orientation-free in SQL:
      // x<y<z with all three canonical edges present; each triangle then
      // credits its three corners
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT w, count(*)::BIGINT AS d FROM (
        |          SELECT a AS w FROM e UNION ALL SELECT b AS w FROM e) GROUP BY 1),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tpn AS (SELECT w, count(*)::BIGINT AS t FROM (
        |          SELECT unnest([x, y, z]) AS w FROM tri) GROUP BY 1)
        |SELECT deg.w AS node, deg.d AS deg, coalesce(t, 0)::BIGINT AS n_tri,
        |  CAST(coalesce(t, 0) * 2 * 1000000 // (d * (d - 1)) AS BIGINT) AS coeff_ppm
        |FROM deg LEFT JOIN tpn USING (w)
        |WHERE d >= 2 ORDER BY node""".stripMargin),
    // Newman degree assortativity of the co-purchase graph (exact ppm)
    Gate("part_assortativity", (s, dir) =>
      Graph.degreeAssortativity(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS w, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |dg AS (SELECT w, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
        |dir AS (SELECT d1.deg AS x, d2.deg AS y
        |  FROM adj JOIN dg d1 ON adj.w = d1.w JOIN dg d2 ON adj.n = d2.w),
        |s AS (SELECT count(*)::BIGINT AS n_dir_edges,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM dir)
        |SELECT n_dir_edges,
        |  n_dir_edges * sxy - sx * sx AS num,
        |  n_dir_edges * sxx - sx * sx AS den,
        |  CAST((n_dir_edges * sxy - sx * sx) * 1000000
        |    // (n_dir_edges * sxx - sx * sx) AS BIGINT) AS r_ppm
        |FROM s""".stripMargin),
    // degree-weighted link prediction: hubs discounted 1/deg (ppm)
    Gate("part_link_pred_ra", (s, dir) =>
      Graph.resourceAllocationPairs(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS w, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |dg AS (SELECT w, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
        |cn AS (SELECT n1.n AS u, n2.n AS v,
        |    CAST(sum(1000000 // dg.deg) AS BIGINT) AS ra_ppm,
        |    count(*) AS n_common
        |  FROM adj n1 JOIN adj n2 ON n1.w = n2.w AND n1.n < n2.n
        |  JOIN dg ON dg.w = n1.w WHERE dg.deg <= 1000 GROUP BY 1, 2)
        |SELECT u AS part_a, v AS part_b, n_common, ra_ppm FROM cn
        |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = cn.u AND e0.b = cn.v)
        |ORDER BY ra_ppm DESC, part_a, part_b LIMIT 50""".stripMargin),
    // product families: O(log n)-round connected components over the
    // support-thresholded co-purchase graph
    Gate("part_families", (s, dir) =>
      Dedup.componentsStar(graft.sources.GraphStage.copurchase(s, dir)
          .select(org.apache.spark.sql.functions.col("a").as("id_a"),
            org.apache.spark.sql.functions.col("b").as("id_b")))
        .withColumnRenamed("doc_id", "part_id")
        .withColumnRenamed("comp", "family"),
      """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS o,
        |    l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT a AS src, b AS dst FROM e0
        |          UNION ALL SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        |)
        |SELECT id AS part_id, min(r) AS family FROM reach
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Bellman-Ford weighted SSSP over the word adjacency graph
    Gate("word_sssp", (s, dir) =>
      Graph.ssspWords(graft.sources.GraphStage.wordEdgeCounts(s, dir)),
      ssspOracle(6)),
    // two-sweep BFS diameter lower bound of the word graph
    Gate("word_diameter_2sweep", (s, dir) =>
      Graph.diameter2Sweep(graft.sources.GraphStage.wordEdges(s, dir)),
      s"""WITH RECURSIVE e0 AS (SELECT DISTINCT ws[i+1] AS s, ws[i+2] AS t
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2),
         |edges AS (SELECT s AS src, t AS dst FROM e0
         |          UNION SELECT t, s FROM e0),
         |b1 AS (
         |  SELECT (SELECT min(src) FROM edges) AS word, 0 AS dist
         |  UNION
         |  SELECT e.dst, b.dist + 1 FROM b1 b
         |  JOIN edges e ON e.src = b.word WHERE b.dist < 20),
         |d1 AS (SELECT word, CAST(min(dist) AS BIGINT) AS dist
         |  FROM b1 GROUP BY 1),
         |f1 AS (SELECT word FROM d1 ORDER BY dist DESC, word LIMIT 1),
         |b2 AS (
         |  SELECT (SELECT word FROM f1) AS word, 0 AS dist
         |  UNION
         |  SELECT e.dst, b.dist + 1 FROM b2 b
         |  JOIN edges e ON e.src = b.word WHERE b.dist < 20),
         |d2 AS (SELECT word, CAST(min(dist) AS BIGINT) AS dist
         |  FROM b2 GROUP BY 1),
         |f2 AS (SELECT word, dist FROM d2 ORDER BY dist DESC, word LIMIT 1)
         |SELECT (SELECT min(src) FROM edges) AS start_word,
         |  (SELECT word FROM f1) AS far_word,
         |  (SELECT word FROM f2) AS far2_word,
         |  (SELECT dist FROM f2) AS diameter_lb""".stripMargin),
    // bounded k-truss peel: cohesive word-graph edges by tri support
    Gate("word_ktruss_edges", (s, dir) =>
      Graph.ktrussEdges(graft.sources.GraphStage.wordEdges(s, dir)),
      ktrussOracle(2, 3)),
    // radius-bounded multi-source BFS closeness on co-purchase graph
    Gate("part_closeness", (s, dir) =>
      Graph.closenessBfs(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      // unrolled 3-hop multi-source BFS; MATERIALIZED per round (each
      // d$i is referenced twice by d${i+1})
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |    l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.p AS a, b.p AS b FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ed AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |seeds AS MATERIALIZED (SELECT u AS seed FROM (
        |  SELECT u, count(*) AS d FROM ed GROUP BY 1)
        |  ORDER BY d DESC, u LIMIT 5),
        |d0 AS MATERIALIZED (SELECT seed, seed AS node,
        |  CAST(0 AS BIGINT) AS dist FROM seeds),
        |d1 AS MATERIALIZED (SELECT seed, node, min(dist) AS dist FROM (
        |  SELECT seed, node, dist FROM d0
        |  UNION ALL SELECT d0.seed, ed.v, d0.dist + 1
        |    FROM d0 JOIN ed ON d0.node = ed.u) GROUP BY 1, 2),
        |d2 AS MATERIALIZED (SELECT seed, node, min(dist) AS dist FROM (
        |  SELECT seed, node, dist FROM d1
        |  UNION ALL SELECT d1.seed, ed.v, d1.dist + 1
        |    FROM d1 JOIN ed ON d1.node = ed.u) GROUP BY 1, 2),
        |d3 AS MATERIALIZED (SELECT seed, node, min(dist) AS dist FROM (
        |  SELECT seed, node, dist FROM d2
        |  UNION ALL SELECT d2.seed, ed.v, d2.dist + 1
        |    FROM d2 JOIN ed ON d2.node = ed.u) GROUP BY 1, 2)
        |SELECT seed, count(*) - 1 AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist,
        |  CASE WHEN sum(dist) = 0 THEN 0
        |       ELSE CAST((count(*) - 1) * 1000000 // sum(dist) AS BIGINT)
        |  END AS closeness_ppm
        |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin),
    // union-normalized link prediction (CN / RA / Jaccard family)
    Gate("part_link_pred_jaccard", (s, dir) =>
      Graph.jaccardLinkPred(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b")),
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS a, b.p AS b FROM op a JOIN op b
        |    ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT a AS w, b AS n FROM e0 UNION ALL SELECT b, a FROM e0),
        |dg AS (SELECT w, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
        |mid AS (SELECT adj.w, adj.n FROM adj JOIN dg ON adj.w = dg.w
        |  WHERE dg.deg <= 1000),
        |cn AS (SELECT n1.n AS u, n2.n AS v, count(*)::BIGINT AS n_common
        |  FROM mid n1 JOIN mid n2 ON n1.w = n2.w AND n1.n < n2.n
        |  GROUP BY 1, 2)
        |SELECT u AS part_a, v AS part_b, n_common,
        |  n_common * 1000000 // (du.deg + dv.deg - n_common) AS jaccard_ppm
        |FROM cn JOIN dg du ON du.w = cn.u JOIN dg dv ON dv.w = cn.v
        |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = cn.u AND e0.b = cn.v)
        |ORDER BY jaccard_ppm DESC, part_a, part_b LIMIT 50""".stripMargin),
    // bowtie decomposition of the DIRECTED word graph: the pivot's SCC
    // exactly (fwd ∩ bwd reachability) plus in/out wings + disconnected
    Gate("word_bowtie", (s, dir) =>
      Graph.bowtie(graft.sources.GraphStage.wordEdges(s, dir)),
      s"""WITH RECURSIVE e0 AS (SELECT DISTINCT ws[i+1] AS s, ws[i+2] AS t
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2),
         |nodes AS (SELECT DISTINCT word FROM
         |  (SELECT s AS word FROM e0 UNION ALL SELECT t AS word FROM e0)),
         |fwd AS (
         |  SELECT (SELECT min(word) FROM nodes) AS word, 0 AS dist
         |  UNION
         |  SELECT e.t, f.dist + 1 FROM fwd f JOIN e0 e ON e.s = f.word
         |  WHERE f.dist < 20),
         |bwd AS (
         |  SELECT (SELECT min(word) FROM nodes) AS word, 0 AS dist
         |  UNION
         |  SELECT e.s, b.dist + 1 FROM bwd b JOIN e0 e ON e.t = b.word
         |  WHERE b.dist < 20)
         |SELECT cls, count(*)::BIGINT AS n_nodes,
         |  min(word) AS min_word, max(word) AS max_word
         |FROM (SELECT n.word,
         |    CASE WHEN f.word IS NOT NULL AND b.word IS NOT NULL THEN 'scc'
         |         WHEN f.word IS NOT NULL THEN 'out'
         |         WHEN b.word IS NOT NULL THEN 'in' ELSE 'disc' END AS cls
         |  FROM nodes n
         |  LEFT JOIN (SELECT DISTINCT word FROM fwd) f ON n.word = f.word
         |  LEFT JOIN (SELECT DISTINCT word FROM bwd) b ON n.word = b.word)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // DeepWalk-style deterministic walk corpus: the sentences a
    // skip-gram graph-embedding model trains on, hash-driven so both
    // engines walk identical trajectories
    Gate("word_walk_corpus", (s, dir) =>
      Graph.walkCorpus(graft.sources.GraphStage.wordEdges(s, dir), nWalks = 2, len = 3),
      // deterministic walk corpus: 3 unrolled hash-driven steps; the
      // nibble index var is `q` so it can't shadow the walk columns
      {
        def h(cur: String, t: Int) =
          s"list_sum(list_transform(range(15), q -> (strpos('0123456789abcdef', " +
            s"substr(md5($cur || ':$t:' || CAST(walk AS VARCHAR)), q+1, 1)) - 1)::BIGINT << (4*(14-q))))"
        val base =
          s"""edges AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |adj AS (SELECT src, list_slice(list_sort(array_agg(DISTINCT dst)), 1, 64) AS nb
             |        FROM edges GROUP BY 1),
             |w0 AS (SELECT src AS start, wr AS walk, src AS cur, src AS path
             |       FROM adj, LATERAL (SELECT unnest(range(0, 2)) AS wr) t)""".stripMargin
        val steps = (1 to 3).map { i =>
          s"""w$i AS (SELECT start, walk, coalesce(nx, cur) AS cur,
             |  CASE WHEN nx IS NULL THEN path ELSE path || ' ' || nx END AS path
             |  FROM (SELECT w.start, w.walk, w.cur, w.path,
             |          a.nb[(1 + (${h("w.cur", i - 1)} % len(a.nb)))::INT] AS nx
             |        FROM w${i - 1} w LEFT JOIN adj a ON w.cur = a.src))""".stripMargin
        }
        (base +: steps).mkString("WITH ", ",\n", "") +
          "\nSELECT start, walk, path FROM w3 ORDER BY start, walk"
      }),
    // the DeepWalk pipeline end to end: hash-driven walk corpus ->
    // skip-gram bigram PMI (the co-occurrence statistics a graph
    // embedding trains on)
    Gate("walk_skipgram_pmi", (s, dir) => {
      import org.apache.spark.sql.functions._
      val sentences = Graph.walkCorpus(
        Graph.bigramEdges(Tables.documents(s, dir)), 2, 3)
        .select(col("path").as("text"), lit(0L).as("doc_id"))
      TextAnalysis.bigramPmi(sentences, minCnt = 2, k = 25)
    },
      // walk CTEs (same chain as word_walk_corpus) -> bigram_pmi shape
      // over the generated paths; path words are already cleaned so
      // string_split suffices
      {
        def h(cur: String, t: Int) =
          s"list_sum(list_transform(range(15), q -> (strpos('0123456789abcdef', " +
            s"substr(md5($cur || ':$t:' || CAST(walk AS VARCHAR)), q+1, 1)) - 1)::BIGINT << (4*(14-q))))"
        val base =
          s"""edges AS (SELECT DISTINCT ws[i+1] AS src, ws[i+2] AS dst
             |  FROM (SELECT $SqlWs AS ws FROM documents),
             |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
             |  WHERE len(ws) >= 2),
             |adj AS (SELECT src, list_slice(list_sort(array_agg(DISTINCT dst)), 1, 64) AS nb
             |        FROM edges GROUP BY 1),
             |w0 AS (SELECT src AS start, wr AS walk, src AS cur, src AS path
             |       FROM adj, LATERAL (SELECT unnest(range(0, 2)) AS wr) t)""".stripMargin
        val steps = (1 to 3).map { i =>
          s"""w$i AS (SELECT start, walk, coalesce(nx, cur) AS cur,
             |  CASE WHEN nx IS NULL THEN path ELSE path || ' ' || nx END AS path
             |  FROM (SELECT w.start, w.walk, w.cur, w.path,
             |          a.nb[(1 + (${h("w.cur", i - 1)} % len(a.nb)))::INT] AS nx
             |        FROM w${i - 1} w LEFT JOIN adj a ON w.cur = a.src))""".stripMargin
        }
        val pmi =
          """wt AS (SELECT string_split(path, ' ') AS ws FROM w3),
            |uni AS (SELECT w AS word, count(*)::BIGINT AS uc
            |        FROM (SELECT unnest(ws) AS w FROM wt) GROUP BY 1),
            |n AS (SELECT CAST(sum(uc) AS BIGINT) AS n_total FROM uni),
            |bi AS (SELECT ngram, count(*)::BIGINT AS cnt FROM (
            |  SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
            |  FROM wt, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
            |  WHERE len(ws) >= 2) GROUP BY 1 HAVING count(*) >= 2)
            |SELECT ngram, cnt, u1.uc AS c1, u2.uc AS c2,
            |  cnt * n_total * 1000 // (u1.uc * u2.uc) AS pmi_x1000
            |FROM bi, n, uni u1, uni u2
            |WHERE u1.word = string_split(ngram, ' ')[1]
            |  AND u2.word = string_split(ngram, ' ')[2]
            |ORDER BY pmi_x1000 DESC, ngram LIMIT 25""".stripMargin
        ((base +: steps) :+ pmi).mkString("WITH ", ",\n", "")
      }))
}
