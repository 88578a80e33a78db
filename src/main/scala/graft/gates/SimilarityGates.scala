package graft
package gates

import graft.operators.{Clustering, Similarity, TextAnalysis}
import OracleSql.{sqlWords, sqlD2, sqlKmeansCents}

/** Vector similarity, ANN and collaborative filtering: brute-force and
  * plan-operator kNN, IVF/PQ/SQ8 indexes (built, persisted,
  * incremented, compacted, rebuilt), k-means, principal directions,
  * coresets and the customer neighbor graph.
  */
object SimilarityGates {

  /** Lloyd training restricted to the base 80% of vec_ids — the
    * incremental ANN index's frozen-quantizer split
    * ([[graft.sources.AnnIndex.incCut]] computes the same integer).
    */
  private val SqlAnnIncTrainPred: String => String =
    a => s"$a.vec_id < (SELECT ((max(vec_id) + 1) * 4) // 5 FROM embeddings)"

  /** IVF top-k under the frozen base-trained quantizer over ALL
    * vectors — shared by `ann_ivf_increment` (append path) and
    * `ann_index_compact` (append + compact path): compaction must not
    * change a single row.
    */
  private[gates] lazy val SqlAnnIncTopk =
    s"""${sqlKmeansCents(8, 5, trainCond = Some(SqlAnnIncTrainPred))},
       |cells AS (SELECT vec_id, cluster AS cell FROM (
       |  SELECT e.vec_id, c.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
       |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |               n.vec_id) AS rank
       |  FROM cells q JOIN cells n ON q.cell = n.cell AND q.vec_id < 10 AND n.vec_id != q.vec_id
       |  JOIN embeddings qe ON qe.vec_id = q.vec_id
       |  JOIN embeddings ne ON ne.vec_id = n.vec_id
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The incremental ANN index's drift tripwire — shared verbatim by
    * `ann_increment_drift` and (wrapped with the action CASE) by
    * `ann_maintain`, whose decision is a pure function of the row.
    */
  private lazy val SqlAnnDrift =
    s"""${sqlKmeansCents(8, 5, trainCond = Some(SqlAnnIncTrainPred))},
       |cut AS (SELECT ((max(vec_id) + 1) * 4) // 5 AS v FROM embeddings),
       |d AS (SELECT e.vec_id, min(${sqlD2("e", "c")}) AS d2
       |      FROM ev e CROSS JOIN c5 c GROUP BY 1),
       |s AS (SELECT
       |    CAST(count(*) FILTER (vec_id < (SELECT v FROM cut)) AS BIGINT) AS n_base,
       |    CAST(count(*) FILTER (vec_id >= (SELECT v FROM cut)) AS BIGINT) AS n_delta,
       |    CAST(sum(d2) FILTER (vec_id < (SELECT v FROM cut)) AS BIGINT) AS s_base,
       |    CAST(sum(d2) FILTER (vec_id >= (SELECT v FROM cut)) AS BIGINT) AS s_delta
       |  FROM d)
       |SELECT n_base, n_delta,
       |  s_base // n_base AS base_avg_d2,
       |  s_delta // n_delta AS delta_avg_d2,
       |  CAST((s_delta // n_delta) * 1000000 // greatest(s_base // n_base, 1) AS BIGINT) AS drift_ppm,
       |  (s_delta // n_delta) * 1000000 // greatest(s_base // n_base, 1) > 1500000 AS rebuild_due
       |FROM s""".stripMargin

  /** The CF neighbor-graph recompute — shared by the recompute gate
    * (`customer_cf_neighbors`) and the incremental-maintenance gate
    * (`customer_cf_increment`), whose delta fold must be byte-equal.
    */
  private val SqlCfNeighbors =
    s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |kept AS (SELECT cp.c, cp.p FROM cp
       |         JOIN (SELECT p FROM cp GROUP BY p HAVING count(*) <= 30) d
       |         USING (p)),
       |deg AS (SELECT c, count(*) AS deg FROM kept GROUP BY 1),
       |sh AS (SELECT a.c AS c_a, b.c AS c_b, count(*) AS shared
       |       FROM kept a JOIN kept b ON a.p = b.p AND a.c <> b.c
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |sc AS (SELECT c_a, c_b, shared,
       |         shared * shared * 1000000 // (da.deg * db.deg) AS score_ppm
       |       FROM sh JOIN deg da ON sh.c_a = da.c
       |             JOIN deg db ON sh.c_b = db.c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY c_a
       |        ORDER BY score_ppm DESC, c_b) AS rank FROM sc)
       |SELECT c_a, c_b, shared, score_ppm, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 3 ORDER BY c_a, rank""".stripMargin

  /** DuckDB mirror of [[operators.Clustering.topDirection]]: `iters`
    * unrolled integer power iterations (truncating-mean centering,
    * `div 10⁶`-rescaled per-row scores, per-dim back-projection, and
    * integer MAX-normalization) — every intermediate a BIGINT, so the
    * final direction is engine-exact.
    */
  private def sqlPowerIterCtes(iters: Int, src: String = "c",
                               sfx: String = ""): Seq[String] =
    (1 to iters).flatMap { t =>
      Seq(
        s"""st$sfx$t AS (SELECT vec_id, cv,
           |  CAST(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * v[i])) AS BIGINT) // 1000000 AS s
           |  FROM $src, v$sfx${t - 1})""".stripMargin,
        s"""w$sfx$t AS (SELECT list(w ORDER BY dim) AS ws FROM (
           |  SELECT r.i AS dim, CAST(sum(cv[r.i] * s) AS BIGINT) AS w
           |  FROM st$sfx$t, LATERAL (SELECT unnest(range(1, len(cv) + 1)) AS i) r GROUP BY 1))""".stripMargin,
        s"""v$sfx$t AS (SELECT list_transform(ws, x -> x // greatest(mx // 1000000, 1)) AS v
           |  FROM w$sfx$t, (SELECT greatest(list_max(list_transform(ws, y -> abs(y))), 1) AS mx FROM w$sfx$t))""".stripMargin)
    }

  /** DuckDB mirror of [[operators.Clustering.top2Directions]]: the
    * first power chain, residual projection removal (Hotelling
    * deflation, truncating ints), then a second chain over `c2`.
    */
  private def sqlTop2Directions(iters: Int): String =
    s"""${sqlTopDirectionCtes(sqlPowerIterCtes(iters))},
       |c2 AS (SELECT q.vec_id,
       |    list_transform(range(1, len(q.cv) + 1),
       |      i -> (q.cv[i] * 1000000 - q.cc * q.v[i]) // 1000000) AS cv
       |  FROM (SELECT c.vec_id, c.cv, v.v,
       |      CAST(list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * v.v[i])) AS BIGINT)
       |        // greatest(CAST(list_sum(list_transform(range(1, len(v.v) + 1), i -> v.v[i] * v.v[i])) AS BIGINT) // 1000000, 1) AS cc
       |    FROM c, v$iters v) q),
       |vb0 AS (SELECT list_transform(cv, x -> CAST(1000000 AS BIGINT)) AS v
       |  FROM c2 ORDER BY vec_id LIMIT 1),
       |${sqlPowerIterCtes(iters, src = "c2", sfx = "b").mkString(",\n")}
       |SELECT CAST(r.i AS BIGINT) AS dim, a.v[r.i] AS v1, b.v[r.i] AS v2
       |FROM v$iters a, vb$iters b,
       |     LATERAL (SELECT unnest(range(1, len(a.v) + 1)) AS i) r
       |ORDER BY dim""".stripMargin

  private def sqlTopDirection(iters: Int): String =
    s"""${sqlTopDirectionCtes(sqlPowerIterCtes(iters))}
       |SELECT CAST(r.i AS BIGINT) AS dim, v[r.i] AS v
       |FROM v$iters, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) r
       |ORDER BY dim""".stripMargin

  /** DuckDB mirror of [[operators.Clustering.residualTop]]: the same
    * power-iteration chain, then truncating-integer projection removal
    * and the top-`topK` residual squared norms.
    */
  private def sqlResidualTop(iters: Int, topK: Int): String =
    s"""${sqlTopDirectionCtes(sqlPowerIterCtes(iters))}
       |SELECT vec_id, res_d2 FROM (
       |  SELECT q.vec_id,
       |    CAST(list_sum(list_transform(range(1, len(q.cv) + 1),
       |      i -> ((q.cv[i] * 1000000 - q.cc * q.v[i]) // 1000000) *
       |           ((q.cv[i] * 1000000 - q.cc * q.v[i]) // 1000000))) AS BIGINT) AS res_d2
       |  FROM (SELECT c.vec_id, c.cv, v.v,
       |      CAST(list_sum(list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * v.v[i])) AS BIGINT)
       |        // greatest(CAST(list_sum(list_transform(range(1, len(v.v) + 1), i -> v.v[i] * v.v[i])) AS BIGINT) // 1000000, 1) AS cc
       |    FROM c, v$iters v) q
       |) ORDER BY res_d2 DESC, vec_id LIMIT $topK""".stripMargin

  private def sqlTopDirectionCtes(iterCtes: Seq[String]): String =
    s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev FROM embeddings),
       |mu AS (SELECT list(m ORDER BY dim) AS mus FROM (
       |  SELECT r.i AS dim, CAST(sum(e.ev[r.i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
       |  FROM ev e, LATERAL (SELECT unnest(range(1, len(e.ev) + 1)) AS i) r GROUP BY 1)),
       |c AS (SELECT vec_id, list_transform(range(1, len(ev) + 1), i -> ev[i] - mus[i]) AS cv FROM ev, mu),
       |v0 AS (SELECT list_transform(cv, x -> CAST(1000000 AS BIGINT)) AS v FROM c ORDER BY vec_id LIMIT 1),
       |${iterCtes.mkString(",\n")}""".stripMargin

  /** DuckDB mirror of [[operators.Similarity.annPq]]: per subspace a
    * [[sqlKmeansCents]]-shaped unrolled Lloyd chain over the slice
    * (`ev[(s·(d//m)+1) : ((s+1)·(d//m))]`), then corpus codes
    * (argmin by (d2, cluster) — the NearestCentroidL2 tie rule), a
    * per-query code→d2 LUT, and the ADC sum over the m subspace
    * partials. Every value is a scaled-int BIGINT, so the comparison
    * is exact.
    */
  private def sqlPqAdc(m: Int, codebookK: Int, iters: Int,
                       nQ: Int, k: Int, nCells: Int = 0,
                       cellIters: Int = 0): String = {
    // one unrolled-Lloyd chain c0_$sfx .. c$it_$sfx over `src`
    def chain(src: String, sfx: String, kk: Int, it: Int): Seq[String] = {
      val base = s"c0_$sfx AS (SELECT vec_id AS cluster, ev AS cv FROM $src " +
        s"ORDER BY vec_id LIMIT $kk)"
      base +: (1 to it).flatMap { i =>
        Seq(
          s"""a${i}_$sfx AS (SELECT vec_id, ev, cluster FROM (
             |  SELECT e.vec_id, e.ev, c.cluster,
             |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
             |  FROM $src e CROSS JOIN c${i - 1}_$sfx c) WHERE rn = 1)""".stripMargin,
          s"""s${i}_$sfx AS (SELECT cluster, list(m ORDER BY dim) AS newcv FROM (
             |  SELECT cluster, dim, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS m FROM (
             |    SELECT a.cluster, r.i AS dim, a.ev[r.i] AS v
             |    FROM a${i}_$sfx a, LATERAL (SELECT unnest(range(1, len(a.ev) + 1)) AS i) r)
             |  GROUP BY cluster, dim) GROUP BY cluster)""".stripMargin,
          s"c${i}_$sfx AS (SELECT p.cluster, COALESCE(t.newcv, p.cv) AS cv " +
            s"FROM c${i - 1}_$sfx p LEFT JOIN s${i}_$sfx t ON p.cluster = t.cluster)")
      }
    }
    // argmin assignment of `src` rows against the chain's last centroids
    def assign(name: String, src: String, sfx: String, it: Int,
               outCol: String): String =
      s"""$name AS (SELECT vec_id, cluster AS $outCol FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM $src e CROSS JOIN c${it}_$sfx c) WHERE rn = 1)""".stripMargin
    val subCtes = (0 until m).flatMap { s =>
      val src = s"ev$s"
      val slice = s"ev[($s*(len(ev)//$m)+1):(($s+1)*(len(ev)//$m))]"
      Seq(s"$src AS (SELECT vec_id, $slice AS ev FROM ev)") ++
        chain(src, s.toString, codebookK, iters) ++ Seq(
        assign(s"codes$s", src, s.toString, iters, "code"),
        s"""lut$s AS (SELECT e.vec_id AS query_id, c.cluster AS code, ${sqlD2("e", "c")} AS pd2
           |  FROM $src e CROSS JOIN c${iters}_$s c WHERE e.vec_id < $nQ)""".stripMargin,
        s"part$s AS (SELECT l.query_id, x.vec_id, l.pd2 " +
          s"FROM codes$s x JOIN lut$s l ON l.code = x.code)")
    }
    val cellCtes = if (nCells > 0)
      chain("ev", "f", nCells, cellIters) ++
        Seq(assign("cells", "ev", "f", cellIters, "cell"))
    else Seq.empty
    val cellJoin = if (nCells > 0)
      " JOIN cells cq ON cq.vec_id = adc.query_id " +
        "JOIN cells cn ON cn.vec_id = adc.vec_id AND cn.cell = cq.cell"
    else ""
    val union = (0 until m).map(s => s"SELECT * FROM part$s")
      .mkString(" UNION ALL ")
    s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev FROM embeddings),
       |${(subCtes ++ cellCtes).mkString(",\n")},
       |adc AS (SELECT query_id, vec_id, CAST(sum(pd2) AS BIGINT) AS adc_d2
       |  FROM ($union) GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_d2, rank FROM (
       |  SELECT adc.query_id, adc.vec_id AS neighbor_id, adc.adc_d2,
       |    row_number() OVER (PARTITION BY adc.query_id ORDER BY adc.adc_d2, adc.vec_id) AS rank
       |  FROM adc$cellJoin WHERE adc.vec_id <> adc.query_id) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  private lazy val SqlKnnCosine =
    s"""SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
       |               c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val SqlAnnIvfKmeans =
    s"""${sqlKmeansCents(8, 5)},
       |cells AS (SELECT vec_id, cluster AS cell FROM (
       |  SELECT e.vec_id, c.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
       |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |               n.vec_id) AS rank
       |  FROM cells q JOIN cells n ON q.cell = n.cell AND q.vec_id < 10 AND n.vec_id != q.vec_id
       |  JOIN embeddings qe ON qe.vec_id = q.vec_id
       |  JOIN embeddings ne ON ne.vec_id = n.vec_id
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // the quantized code IS the contract: round((x-mn)*255/(mx-mn)) per
  // dim (identical IEEE expression tree on both engines), constant
  // dims -> 0, then exact integer squared-L2 ranking
  private lazy val SqlAnnPq =
    sqlPqAdc(m = 4, codebookK = 8, iters = 3, nQ = 10, k = 5)

  val gates: Seq[Gate] = Seq(
    Gate("knn_cosine", (s, dir) =>
      Similarity.knnBruteForce(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      SqlKnnCosine),
    // same ranking through the custom TopKPerKey bounded-heap operator
    Gate("knn_cosine_plan", (s, dir) =>
      Similarity.knnTopKPlan(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      // the bounded-heap operator gives the same ranking
      SqlKnnCosine),
    // contrastive hard negatives: top-k inside the cosine annulus
    // [0.05, 0.30) — confusable but not a disguised positive
    Gate("knn_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      // annulus filter BEFORE the rank — same cosine expression tree
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |  ) WHERE cos >= 0.05 AND cos < 0.30
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("ann_ivf", (s, dir) =>
      Similarity.annIvf(Tables.embeddings(s, dir), nQueries = 10, k = 5, bits = 4),
      s"""WITH cells AS (
         |  SELECT vec_id, embedding,
         |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
         |  FROM embeddings)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
         |               n.vec_id) AS rank
         |  FROM cells q JOIN cells n
         |    ON q.cell = n.cell AND q.vec_id < 10 AND n.vec_id != q.vec_id
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("emb_neardup", (s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir), threshold = 0.45),
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.45
         |ORDER BY 1, 2""".stripMargin),
    // LSH-pruned variant at duplicate-level threshold (scale path;
    // verified candidates converge to the exact answer). Runs over the
    // corpus + 20 planted near-dups (cos ≈ 0.99) so the oracle match
    // exercises recall on a non-empty pair set.
    Gate("emb_neardup_lsh", (s, dir) =>
      Similarity.lshNearDup(
        Similarity.plantNearDups(Tables.embeddings(s, dir), nPlants = 20),
        threshold = 0.9),
      s"""WITH emb2 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    [CAST(0.0 AS FLOAT)] || embedding[2:] AS embedding
         |  FROM embeddings WHERE vec_id < 20
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.9
         |ORDER BY 1, 2""".stripMargin),
    // IVF balance report: per-cell population + ppm share
    Gate("ann_cell_histogram", (s, dir) =>
      Similarity.annCellHistogram(Tables.embeddings(s, dir)),
      """WITH cells AS (
        |  SELECT (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)::BIGINT AS cell
        |  FROM embeddings),
        |g AS (SELECT cell, count(*)::BIGINT AS n FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT cell, n, CAST(n * 1000000 // total AS BIGINT) AS share_ppm
        |FROM g, t ORDER BY cell""".stripMargin),
    // vector QA: both norm tails in one report
    Gate("emb_norm_extremes", (s, dir) =>
      Similarity.normExtremes(Tables.embeddings(s, dir)),
      """WITH sq AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding,
        |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)
        |           * CAST(round(x::DOUBLE * 1000) AS BIGINT))) AS BIGINT)
        |      AS sumsq_milli
        |  FROM embeddings),
        |hi AS (SELECT vec_id, sumsq_milli, 'high' AS tail FROM sq
        |       ORDER BY sumsq_milli DESC, vec_id LIMIT 10),
        |lo AS (SELECT vec_id, sumsq_milli, 'low' AS tail FROM sq
        |       ORDER BY sumsq_milli ASC, vec_id LIMIT 10)
        |SELECT vec_id, sumsq_milli, tail
        |FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo)
        |ORDER BY tail, vec_id""".stripMargin),
    // ML-ops drift tripwire: per-dim mean delta between corpus halves
    Gate("emb_drift_check", (s, dir) =>
      Similarity.embDriftCheck(Tables.embeddings(s, dir)),
      """WITH m AS (SELECT (max(vec_id) + 1) // 2 AS mid FROM embeddings),
        |x AS (SELECT e.vec_id < m.mid AS lo, r.i - 1 AS dim,
        |    CAST(round(e.embedding[r.i]::DOUBLE * 1000) AS BIGINT) AS xm
        |  FROM embeddings e, m,
        |       LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r),
        |g AS (SELECT dim,
        |    CAST(sum(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN lo THEN xm ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN NOT lo THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN NOT lo THEN xm ELSE 0 END) AS BIGINT) AS s_b
        |  FROM x GROUP BY 1)
        |SELECT dim, s_a // n_a AS mu_a_milli, s_b // n_b AS mu_b_milli,
        |  abs(s_a // n_a - s_b // n_b) AS drift_milli
        |FROM g ORDER BY dim""".stripMargin),
    // dominant principal direction by integer power iteration — the
    // all-but-the-top embedding debias primitive
    Gate("emb_top_direction", (s, dir) =>
      Clustering.topDirection(Tables.embeddings(s, dir)),
      sqlTopDirection(2)),
    // all-but-the-top applied: largest residual norms after projecting
    // out the dominant direction
    Gate("emb_residual_top", (s, dir) =>
      Clustering.residualTop(Tables.embeddings(s, dir)),
      sqlResidualTop(2, 20)),
    // the amortized PQ serving shape: codebooks from the session index
    // cache, queries pay only encode + LUT probe (shares the ann_pq
    // oracle — same codebooks, same ADC values)
    Gate("ann_pq_indexed", (s, dir) =>
      Similarity.annPqIndexed(s, dir, nQueries = 10, k = 5),
      SqlAnnPq),
    // per-dimension whitening stats: integer two-moment identity
    Gate("emb_dim_stats", (s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir)),
      """SELECT dim, count(*)::BIGINT AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_milli,
        |  CAST(sum(xm * xm) AS BIGINT) AS sumsq_milli,
        |  CAST(count(*) * sum(xm * xm) - sum(xm) * sum(xm) AS BIGINT) AS var_num
        |FROM (
        |  SELECT i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT) AS xm
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r)
        |GROUP BY dim ORDER BY dim""".stripMargin),
    // first two principal directions via integer Hotelling deflation
    Gate("emb_top2_directions", (s, dir) =>
      Clustering.top2Directions(Tables.embeddings(s, dir)),
      sqlTop2Directions(2)),
    // index self-evaluation: per-query IVF recall vs brute force
    Gate("ann_recall_report", (s, dir) =>
      Similarity.annRecallReport(Tables.embeddings(s, dir)),
      s"""WITH cells AS (
         |  SELECT vec_id, embedding,
         |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
         |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
         |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
         |  FROM embeddings),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id) WHERE rank <= 5),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
         |               n.vec_id) AS rank
         |  FROM cells q JOIN cells n
         |    ON q.cell = n.cell AND q.vec_id < 10 AND n.vec_id != q.vec_id
         |  ) WHERE rank <= 5)
         |SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits,
         |  CAST(count(a.neighbor_id) * 1000000 // 5 AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // higher-order array functions (filter/transform/aggregate), no UDF
    Gate("emb_array_stats", (s, dir) =>
      Similarity.arrayStats(Tables.embeddings(s, dir)),
      s"""SELECT vec_id,
         |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
         |  CAST(list_sum(list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS sum_milli,
         |  CAST(list_max(list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS max_milli
         |FROM embeddings ORDER BY vec_id LIMIT 500""".stripMargin),
    // user-user collaborative filtering: df-pruned inverted index,
    // integer cosine², bounded-heap top-k per customer — served from
    // the persisted bucketed CF index (built once per session+dir,
    // shared with the recommendations/rec_eval gates)
    Gate("customer_cf_neighbors", (s, dir) =>
      graft.sources.CfIndex.cfNeighbors(s, dir),
      SqlCfNeighbors),
    // incremental index maintenance: the post-cut delta orders FOLD
    // into the persisted base-split neighbor graph (signed pair/degree
    // deltas + touched-only re-rank) — byte-equal to the full
    // recompute, so it shares the cf_neighbors oracle
    Gate("customer_cf_increment", (s, dir) =>
      graft.sources.CfIndex.cfIncrement(s, dir),
      // the incremental fold equals the full recompute by construction —
      // these gates share one oracle (promote serves the persisted fold)
      SqlCfNeighbors),
    // promotion: the merged increment state persisted as the NEXT
    // base (closing the nightly loop); probe-only after the one-time
    // write, same recompute oracle
    Gate("customer_cf_promote", (s, dir) =>
      graft.sources.CfIndex.cfPromote(s, dir),
      SqlCfNeighbors),
    // the IVM degeneracy diagnostic: how much of the customer
    // population the delta fold actually touches (touched_ppm near
    // 10^6 = the regime where a recompute beats the increment) — read
    // from the SAME cached fold the increment/promote gates share
    Gate("customer_cf_increment_stats", (s, dir) =>
      graft.sources.CfIndex.cfIncrementStats(s, dir),
      // the fold's volume diagnostic, recomputed from first principles:
      // base-split vs full CF state, their net-nonzero pair/degree
      // diffs, and the touched set (endpoints of changed pairs ∪
      // changed-degree customers ∪ holders of a full-graph pair whose
      // counterparty's degree changed — both degrees enter every score)
      s"""WITH cpb AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |       WHERE o_orderdate < TIMESTAMP '2001-01-01'),
         |cpf AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |keptb AS (SELECT cpb.c, cpb.p FROM cpb
         |          JOIN (SELECT p FROM cpb GROUP BY p HAVING count(*) <= 30) d
         |          USING (p)),
         |keptf AS (SELECT cpf.c, cpf.p FROM cpf
         |          JOIN (SELECT p FROM cpf GROUP BY p HAVING count(*) <= 30) d
         |          USING (p)),
         |degb AS (SELECT c, count(*) AS deg FROM keptb GROUP BY 1),
         |degf AS (SELECT c, count(*) AS deg FROM keptf GROUP BY 1),
         |shb AS (SELECT a.c AS c_a, b.c AS c_b, count(*) AS shared
         |        FROM keptb a JOIN keptb b ON a.p = b.p AND a.c < b.c
         |        GROUP BY 1, 2),
         |shf AS (SELECT a.c AS c_a, b.c AS c_b, count(*) AS shared
         |        FROM keptf a JOIN keptf b ON a.p = b.p AND a.c < b.c
         |        GROUP BY 1, 2),
         |dsh AS (SELECT coalesce(b.c_a, f.c_a) AS c_a,
         |          coalesce(b.c_b, f.c_b) AS c_b
         |        FROM shb b FULL OUTER JOIN shf f
         |          ON b.c_a = f.c_a AND b.c_b = f.c_b
         |        WHERE coalesce(f.shared, 0) - coalesce(b.shared, 0) <> 0),
         |ddeg AS (SELECT coalesce(b.c, f.c) AS c
         |         FROM degb b FULL OUTER JOIN degf f ON b.c = f.c
         |         WHERE coalesce(f.deg, 0) - coalesce(b.deg, 0) <> 0),
         |touched AS (
         |  SELECT c FROM ddeg
         |  UNION SELECT c_a FROM dsh
         |  UNION SELECT c_b FROM dsh
         |  UNION SELECT s.c_a FROM shf s JOIN ddeg d ON s.c_b = d.c
         |  UNION SELECT s.c_b FROM shf s JOIN ddeg d ON s.c_a = d.c),
         |dcp AS (SELECT c, p FROM cpf EXCEPT SELECT c, p FROM cpb)
         |SELECT
         |  (SELECT count(*) FROM touched)::BIGINT AS n_touched,
         |  (SELECT count(*) FROM degf)::BIGINT AS n_customers,
         |  (SELECT count(*) FROM dsh)::BIGINT AS changed_pairs,
         |  (SELECT count(*) FROM ddeg)::BIGINT AS changed_deg,
         |  (SELECT count(*) FROM dcp)::BIGINT AS new_incidence,
         |  CAST((SELECT count(*) FROM touched) * 1000000
         |    // greatest((SELECT count(*) FROM degf), 1) AS BIGINT)
         |    AS touched_ppm""".stripMargin),
    // k-means Lloyd building blocks over embeddings — scaled-integer
    // distance math, so assignment + sufficient stats are exact
    Gate("kmeans_assign", (s, dir) =>
      Clustering.assign(Tables.embeddings(s, dir), k = 8),
      // scaled-integer distances (round(x·1e6) bigints) make argmin and
      // sums bit-exact on both engines — no float summation anywhere
      s"""WITH cent AS (SELECT vec_id AS cluster, embedding
         |              FROM embeddings ORDER BY vec_id LIMIT 8),
         |cs AS (SELECT cluster,
         |         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS cv
         |       FROM cent),
         |scaled AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev
         |           FROM embeddings),
         |dists AS (SELECT vec_id, cluster,
         |    CAST(list_sum(list_transform(range(1, len(ev) + 1),
         |      i -> (ev[i] - cv[i]) * (ev[i] - cv[i]))) AS BIGINT) AS d2
         |  FROM scaled, cs),
         |best AS (SELECT vec_id, cluster, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
         |  FROM dists)
         |SELECT vec_id, cluster, d2 FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    Gate("kmeans_step", (s, dir) =>
      Clustering.step(Tables.embeddings(s, dir), k = 8),
      s"""WITH cent AS (SELECT vec_id AS cluster, embedding
         |              FROM embeddings ORDER BY vec_id LIMIT 8),
         |cs AS (SELECT cluster,
         |         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS cv
         |       FROM cent),
         |scaled AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev
         |           FROM embeddings),
         |dists AS (SELECT vec_id, ev, cluster,
         |    CAST(list_sum(list_transform(range(1, len(ev) + 1),
         |      i -> (ev[i] - cv[i]) * (ev[i] - cv[i]))) AS BIGINT) AS d2
         |  FROM scaled, cs),
         |best AS (SELECT vec_id, ev, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
         |  FROM dists),
         |ex AS (SELECT cluster, g.i AS dim, ev[g.i] AS v
         |  FROM best, (SELECT unnest(range(1,
         |    (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i) g
         |  WHERE rn = 1)
         |SELECT cluster, CAST(dim AS BIGINT) AS dim,
         |  CAST(sum(v) AS BIGINT) AS sum_scaled, count(*) AS cnt
         |FROM ex GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin),
    // Lloyd run to convergence (max 5 iterations; the converged state
    // is a fixed point, so this equals the oracle's 5-times unroll)
    Gate("kmeans_converged", (s, dir) =>
      Clustering.lloydConverged(Tables.embeddings(s, dir), k = 8, maxIters = 5),
      s"""${sqlKmeansCents(8, 5)}
         |SELECT cluster, CAST(r.i AS BIGINT) AS dim, cv[r.i] AS v
         |FROM c5, LATERAL (SELECT unnest(range(1, len(cv) + 1)) AS i) r
         |ORDER BY cluster, dim""".stripMargin),
    // IVF over the LEARNED centroids (k-means cells, not sign bits);
    // the index build is cached per (session, dir) — build once, query many
    Gate("ann_ivf_kmeans", (s, dir) =>
      Similarity.annIvfKmeansIndexed(s, dir, nQueries = 10, k = 5),
      SqlAnnIvfKmeans),
    // queries probe their 2 nearest cells — the IVF recall lever;
    // shares the cached centroid index with the single-probe gates
    Gate("ann_ivf_multiprobe", (s, dir) =>
      Similarity.annIvfMultiprobe(s, dir, nQueries = 10, k = 5),
      // multi-probe: queries rank candidates from their TWO nearest
      // cells; candidates still join through their unique home cell
      s"""${sqlKmeansCents(8, 5)},
         |cells AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1),
         |probes AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c WHERE e.vec_id < 10) WHERE rn <= 2)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
         |               n.vec_id) AS rank
         |  FROM probes q JOIN cells n ON q.cell = n.cell AND n.vec_id != q.vec_id
         |  JOIN embeddings qe ON qe.vec_id = q.vec_id
         |  JOIN embeddings ne ON ne.vec_id = n.vec_id
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // the same IVF search through the PERSISTED on-disk index: cell-
    // bucketed postings, query reads only its own cells' buckets
    Gate("ann_ivf_disk", (s, dir) =>
      graft.sources.AnnIndex.annReport(s, dir, nQueries = 10, k = 5),
      // the persisted-index path computes the same centroids, cells and
      // ranking — identical result by construction, same oracle
      SqlAnnIvfKmeans),
    // incremental index maintenance: the last 20% of vectors APPEND to
    // the persisted cell postings under frozen base-trained centroids
    Gate("ann_ivf_increment", (s, dir) =>
      graft.sources.AnnIndex.annIncrementReport(s, dir, nQueries = 10, k = 5),
      SqlAnnIncTopk),
    // the rebuild tripwire: delta quantization error vs base, in ppm
    Gate("ann_increment_drift", (s, dir) =>
      graft.sources.AnnIndex.annIncrementDrift(s, dir),
      SqlAnnDrift),
    // compaction: append-accumulated postings rewritten to one file
    // per bucket; probe result provably unchanged (same oracle)
    Gate("ann_index_compact", (s, dir) =>
      graft.sources.AnnIndex.annCompactReport(s, dir, nQueries = 10, k = 5),
      // compaction rewrites the same rows — the probe answer is the
      // increment answer, so the gates share one oracle
      SqlAnnIncTopk),
    // the scheduled REBUILD the drift tripwire asks for: Lloyd retrain
    // over the index's own stored vectors, one-pass argmin re-encode,
    // atomic swap — the retrain spans all vectors, so the result is
    // the full-corpus-trained IVF (shares the ann_ivf_disk oracle)
    Gate("ann_ivf_rebuild", (s, dir) =>
      graft.sources.AnnIndex.annRebuildReport(s, dir, nQueries = 10, k = 5),
      // the rebuild retrains over ALL stored vectors with the same
      // deterministic seeds — the rebuilt index IS the full-corpus-
      // trained IVF the disk gate's unrolled-Lloyd oracle describes
      SqlAnnIvfKmeans),
    // the maintenance decision as one call: drift report + the action
    // taken (rebuild runs iff the tripwire fires; fixture deltas are
    // in-distribution, so the gate row is 'keep' at every SF)
    Gate("ann_maintain", (s, dir) =>
      graft.sources.AnnIndex.annMaintain(s, dir),
      // the maintenance decision is a pure function of the drift row
      s"""SELECT *, CASE WHEN rebuild_due THEN 'rebuild' ELSE 'keep' END
         |  AS action
         |FROM ($SqlAnnDrift) t""".stripMargin),
    // the eval that certifies a rebuild before its swap ships:
    // per-query recall of the rebuilt index vs brute-force truth
    Gate("ann_rebuild_recall", (s, dir) =>
      graft.sources.AnnIndex.annRebuildRecall(s, dir),
      // recall of the rebuilt (= full-corpus-retrained) IVF vs brute
      // force: the kmeans-cell twin of ann_recall_report's sign-LSH form
      s"""${sqlKmeansCents(8, 5)},
         |cells AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id) WHERE rank <= 5),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
         |               n.vec_id) AS rank
         |  FROM cells q JOIN cells n ON q.cell = n.cell AND q.vec_id < 10 AND n.vec_id != q.vec_id
         |  JOIN embeddings qe ON qe.vec_id = q.vec_id
         |  JOIN embeddings ne ON ne.vec_id = n.vec_id) WHERE rank <= 5)
         |SELECT e.query_id, count(a.neighbor_id)::BIGINT AS n_hits,
         |  CAST(count(a.neighbor_id) * 1000000 // 5 AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // SSL-prototypes pruning: each cluster's nKeep most-central members
    // by exact scaled-integer centroid distance (bounded-heap top-k);
    // centroids come from the shared cached k-means index
    Gate("emb_prototypes", (s, dir) =>
      Clustering.prototypesKeepWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir), nKeep = 40),
      s"""${sqlKmeansCents(8, 5)},
         |best AS (SELECT vec_id, cluster, d2 FROM (
         |  SELECT e.vec_id, c.cluster, ${sqlD2("e", "c")} AS d2,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1)
         |SELECT vec_id, cluster, d2 FROM (
         |  SELECT vec_id, cluster, d2,
         |    row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS r
         |  FROM best) WHERE r <= 40 ORDER BY vec_id""".stripMargin),
    // int8 scalar-quantized ANN: ranking entirely on quantized codes
    // with exact integer distances — the 4×-smaller-index lever
    Gate("ann_sq8", (s, dir) =>
      Similarity.annSq8(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      s"""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |st AS (SELECT r.i AS pos, min(e[r.i]) AS mn, max(e[r.i]) AS mx
         |  FROM d, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS i) r GROUP BY 1),
         |s1 AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM st),
         |qv AS (SELECT vec_id, list_transform(range(1, len(e) + 1), i ->
         |    CASE WHEN mxs[i] = mns[i] THEN 0
         |         ELSE CAST(round((e[i] - mns[i]) * 255.0 / (mxs[i] - mns[i])) AS BIGINT) END) AS q
         |  FROM d, s1)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_sum(list_transform(range(1, len(a.q) + 1), i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))),
         |      b.vec_id) AS rank
         |  FROM qv a JOIN qv b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // product quantization + ADC (Jégou et al. 2011): m=4 subspace
    // codebooks, corpus stored as codes, query distance = m LUT
    // lookups — the 64× index-compression path
    Gate("ann_pq", (s, dir) =>
      Similarity.annPq(Tables.embeddings(s, dir), nQueries = 10, k = 5),
      SqlAnnPq),
    // the full FAISS-style IVFx,PQy: cell-pruned candidates ranked by
    // the same exact-integer ADC sum; coarse quantizer shared with the
    // other IVF consumers via the session centroid cache
    Gate("ann_ivfpq", (s, dir) =>
      Similarity.annIvfPq(Tables.embeddings(s, dir), nQueries = 10, k = 5,
        coarseCents = Some(Similarity.cachedCentroids(s, dir))),
      sqlPqAdc(m = 4, codebookK = 8, iters = 3, nQ = 10, k = 5,
        nCells = 8, cellIters = 5)),
    // JL ±1 random projection to 16 dims, exact integer coordinates
    Gate("emb_random_projection", (s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir)),
      // ±1 signs from the dual-engine md5 parity of "j:i"; projection is
      // an exact integer fold over the scaled embedding
      s"""WITH nd AS (SELECT max(len(embedding)) AS nd FROM embeddings),
         |sm AS (SELECT list_transform(range(0, 16), j ->
         |    list_transform(range(1, nd + 1), i ->
         |      CASE WHEN list_sum(list_transform(range(15), q ->
         |          (strpos('0123456789abcdef',
         |             substr(md5(j::VARCHAR || ':' || i::VARCHAR), q+1, 1)) - 1)::BIGINT
         |            << (4*(14-q)))) % 2 = 0
         |        THEN 1::BIGINT ELSE -1::BIGINT END)) AS sm
         |  FROM nd),
         |ev AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev
         |  FROM embeddings)
         |SELECT vec_id, CAST(j + 1 AS BIGINT) AS dim,
         |  CAST(list_sum(list_transform(range(1, len(ev) + 1),
         |    i -> sm[j + 1][i] * ev[i])) AS BIGINT) AS v
         |FROM ev, sm, LATERAL (SELECT unnest(range(0, 16)) AS j) r
         |ORDER BY vec_id, dim""".stripMargin),
    // simplified silhouette: per-cluster quality of the Lloyd run
    // quality readout over the SHARED session k-means (r16: the private
    // Lloyd run here was derivation-identical to cachedCentroids(8, 5);
    // kmeans_converged stays the live Lloyd gate)
    Gate("kmeans_silhouette", (s, dir) =>
      Clustering.silhouetteWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir)),
      s"""${sqlKmeansCents(8, 5)},
         |dd AS (SELECT e.vec_id, c.cluster, ${sqlD2("e", "c")} AS d2
         |  FROM ev e CROSS JOIN c5 c),
         |r AS (SELECT vec_id, cluster, d2, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM dd),
         |sil AS (SELECT o.cluster AS own,
         |    CASE WHEN greatest(o.d2, t.d2) = 0 THEN 0
         |         ELSE CAST(CAST(t.d2 - o.d2 AS HUGEINT) * 1000000
         |           // greatest(o.d2, t.d2) AS BIGINT)
         |    END AS s
         |  FROM (SELECT vec_id, cluster, d2 FROM r WHERE rn = 1) o
         |  JOIN (SELECT vec_id, d2 FROM r WHERE rn = 2) t USING (vec_id))
         |SELECT own AS cluster, count(*)::BIGINT AS n,
         |  CAST(sum(s) // count(*) AS BIGINT) AS avg_s_x1e6
         |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin),
    // grid-partitioned DBSCAN on the 2-D embedding slice
    Gate("emb_dbscan", (s, dir) =>
      Clustering.dbscanGrid(Tables.embeddings(s, dir)),
      // brute ε-join mirror of the grid DBSCAN (the grid is a pruning,
      // not a semantics change); MATERIALIZED everywhere — nb is
      // referenced four times and the reach CTE rides ce
      """WITH RECURSIVE p AS MATERIALIZED (SELECT vec_id,
        |    CAST(round(CAST(embedding[1] AS DOUBLE)*1000) AS BIGINT) x,
        |    CAST(round(CAST(embedding[2] AS DOUBLE)*1000) AS BIGINT) y
        |  FROM embeddings),
        |nb AS MATERIALIZED (SELECT a.vec_id ia, b.vec_id ib
        |  FROM p a JOIN p b
        |  ON (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= 1600),
        |core AS MATERIALIZED (SELECT ia AS v FROM (
        |  SELECT ia, count(*) c FROM nb GROUP BY 1) WHERE c >= 5),
        |ce AS MATERIALIZED (SELECT ia, ib FROM nb
        |  JOIN core ca ON nb.ia = ca.v JOIN core cb ON nb.ib = cb.v
        |  WHERE ia <> ib),
        |reach(id, r) AS (
        |  SELECT v, v FROM core
        |  UNION
        |  SELECT ce.ib, reach.r FROM ce JOIN reach ON ce.ia = reach.id),
        |lbl AS MATERIALIZED (SELECT id AS v, min(r) AS cluster
        |  FROM reach GROUP BY 1),
        |brd AS MATERIALIZED (SELECT nb.ia AS v, min(l.cluster) AS cluster
        |  FROM nb JOIN lbl l ON nb.ib = l.v
        |  WHERE nb.ia NOT IN (SELECT v FROM core) GROUP BY 1)
        |SELECT p.vec_id, coalesce(l.cluster, b.cluster, -1) AS cluster,
        |  CASE WHEN l.v IS NOT NULL THEN 'core'
        |       WHEN b.v IS NOT NULL THEN 'border' ELSE 'noise' END AS role
        |FROM p LEFT JOIN lbl l ON p.vec_id = l.v
        |  LEFT JOIN brd b ON p.vec_id = b.v
        |ORDER BY vec_id""".stripMargin),
    // reciprocal-rank fusion of the BM25 and tf-sum rankers
    Gate("doc_hybrid_rrf", (s, dir) =>
      TextAnalysis.hybridRrf(Tables.documents(s, dir)),
      // same fixed-point BM25 pipeline as doc_bm25_topk, plus the tf-sum
      // ranker and the rank-space fusion
      s"""WITH tf AS (SELECT doc_id, word, count(*) AS tf
         |            FROM (${sqlWords(" doc_id,")}) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs,
         |         CAST(sum(dl) AS BIGINT) * 1000 // count(*) AS avgdl_milli FROM dl),
         |q AS (SELECT word FROM (
         |        SELECT word, CAST(sum(tf) AS BIGINT) AS gcnt FROM tf GROUP BY 1)
         |      ORDER BY gcnt DESC, word LIMIT 3),
         |p AS (SELECT tf.* FROM tf JOIN q USING (word)),
         |dfq AS (SELECT word, count(*) AS df FROM p GROUP BY 1),
         |sc AS (SELECT p.doc_id,
         |         (n_docs * 1000000 // df)
         |           * ((tf * 2200 * 1000000)
         |              // (tf * 1000
         |                  + (1200 * (250 + (750000 * dl) // avgdl_milli)) // 1000))
         |           // 1000000 AS c
         |       FROM p JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN st),
         |bm AS (SELECT doc_id, row_number()
         |      OVER (ORDER BY score_micro DESC, doc_id) AS rn FROM (
         |    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM sc
         |    GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 100)),
         |ts AS (SELECT doc_id, row_number()
         |      OVER (ORDER BY tfsum DESC, doc_id) AS rn FROM (
         |    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tfsum FROM p
         |    GROUP BY 1 ORDER BY tfsum DESC, doc_id LIMIT 100))
         |SELECT coalesce(bm.doc_id, ts.doc_id) AS doc_id,
         |  CAST(coalesce(1000000 // (60 + bm.rn), 0)
         |     + coalesce(1000000 // (60 + ts.rn), 0) AS BIGINT) AS rrf_micro
         |FROM bm FULL JOIN ts ON bm.doc_id = ts.doc_id
         |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin),
    // cluster-mass drift between corpus halves on shared centroids
    // r16: shares the session k-means like kmeans_silhouette above
    Gate("emb_cluster_drift", (s, dir) =>
      Clustering.clusterDriftWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir)),
      s"""${sqlKmeansCents(8, 5)},
         |cells AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1),
         |m AS (SELECT (max(vec_id) + 1) // 2 AS mid FROM embeddings),
         |g AS (SELECT cell,
         |    CAST(sum(CASE WHEN vec_id < mid THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN vec_id >= mid THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM cells, m GROUP BY 1),
         |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
         |    CAST(sum(n_b) AS BIGINT) AS tb FROM g)
         |SELECT cell, n_a, n_b,
         |  n_a * 1000000 // ta AS share_a_ppm,
         |  n_b * 1000000 // tb AS share_b_ppm,
         |  abs(n_a * 1000000 // ta - n_b * 1000000 // tb) AS drift_ppm
         |FROM g CROSS JOIN t ORDER BY cell""".stripMargin),
    // top-N part recommendations probing the persisted CF index —
    // candidate expansion against the bucketed incidence table
    Gate("customer_recommendations", (s, dir) =>
      graft.sources.CfIndex.recommendations(s, dir),
      s"""WITH cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c,
         |    l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |kept AS (SELECT cp.c, cp.p FROM cp
         |         JOIN (SELECT p FROM cp GROUP BY p HAVING count(*) <= 30) d
         |         USING (p)),
         |deg AS (SELECT c, count(*) AS deg FROM kept GROUP BY 1),
         |sh AS (SELECT a.c AS c_a, b.c AS c_b, count(*) AS shared
         |       FROM kept a JOIN kept b ON a.p = b.p AND a.c <> b.c
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |sc AS (SELECT c_a, c_b, shared,
         |         shared * shared * 1000000 // (da.deg * db.deg) AS score_ppm
         |       FROM sh JOIN deg da ON sh.c_a = da.c
         |             JOIN deg db ON sh.c_b = db.c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY c_a
         |        ORDER BY score_ppm DESC, c_b) AS rank FROM sc),
         |nb AS (SELECT c_a, c_b, score_ppm FROM r WHERE rank <= 3),
         |cand AS (SELECT nb.c_a, o.p,
         |    CAST(sum(nb.score_ppm) AS BIGINT) AS rec_score,
         |    count(*)::BIGINT AS n_votes
         |  FROM nb JOIN cp o ON o.c = nb.c_b GROUP BY 1, 2),
         |fresh AS (SELECT cand.* FROM cand WHERE NOT EXISTS (
         |  SELECT 1 FROM cp own WHERE own.c = cand.c_a AND own.p = cand.p)),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY c_a
         |    ORDER BY rec_score DESC, n_votes DESC, p) AS rnk FROM fresh)
         |SELECT c_a AS custkey, p AS part_id, rec_score, n_votes,
         |  CAST(rnk AS BIGINT) AS rank
         |FROM rr WHERE rnk <= 3 ORDER BY custkey, rank""".stripMargin),
    // leave-latest-order-out offline eval of the CF recommender:
    // hit-rate and user coverage in exact ppm, scored against the
    // persisted TRAIN-split index (leakage-free at index write time)
    Gate("customer_rec_eval", (s, dir) =>
      graft.sources.CfIndex.recEval(s, dir),
      // the recommender CTE chain replayed over the train split (latest
      // order per customer anti-joined away), then hits vs the held-out
      // baskets
      s"""WITH lo AS (SELECT o_custkey AS last_c, o_orderkey AS last_ok FROM (
         |    SELECT o_custkey, o_orderkey, row_number() OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders) WHERE rn = 1),
         |cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderkey NOT IN (SELECT last_ok FROM lo)),
         |test AS (SELECT DISTINCT lo.last_c AS c, l_partkey AS p
         |  FROM lineitem JOIN lo ON l_orderkey = last_ok),
         |kept AS (SELECT cp.c, cp.p FROM cp
         |         JOIN (SELECT p FROM cp GROUP BY p HAVING count(*) <= 30) d
         |         USING (p)),
         |deg AS (SELECT c, count(*) AS deg FROM kept GROUP BY 1),
         |sh AS (SELECT a.c AS c_a, b.c AS c_b, count(*) AS shared
         |       FROM kept a JOIN kept b ON a.p = b.p AND a.c <> b.c
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |sc AS (SELECT c_a, c_b, shared,
         |         shared * shared * 1000000 // (da.deg * db.deg) AS score_ppm
         |       FROM sh JOIN deg da ON sh.c_a = da.c
         |             JOIN deg db ON sh.c_b = db.c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY c_a
         |        ORDER BY score_ppm DESC, c_b) AS rank FROM sc),
         |nb AS (SELECT c_a, c_b, score_ppm FROM r WHERE rank <= 3),
         |cand AS (SELECT nb.c_a, o.p,
         |    CAST(sum(nb.score_ppm) AS BIGINT) AS rec_score,
         |    count(*)::BIGINT AS n_votes
         |  FROM nb JOIN cp o ON o.c = nb.c_b GROUP BY 1, 2),
         |fresh AS (SELECT cand.* FROM cand WHERE NOT EXISTS (
         |  SELECT 1 FROM cp own WHERE own.c = cand.c_a AND own.p = cand.p)),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY c_a
         |    ORDER BY rec_score DESC, n_votes DESC, p) AS rnk FROM fresh),
         |recs AS (SELECT c_a AS c, p FROM rr WHERE rnk <= 3),
         |j AS (SELECT recs.c, recs.p, test.p IS NOT NULL AS hit
         |      FROM recs LEFT JOIN test ON recs.c = test.c AND recs.p = test.p),
         |a AS (SELECT count(*)::BIGINT AS n_recs,
         |        count(*) FILTER (WHERE hit)::BIGINT AS n_hits,
         |        count(DISTINCT c)::BIGINT AS n_users,
         |        count(DISTINCT c) FILTER (WHERE hit)::BIGINT AS users_hit
         |      FROM j)
         |SELECT n_recs, n_hits, n_users, users_hit,
         |  CAST(n_hits * 1000000 // greatest(1, n_recs) AS BIGINT) AS hit_ppm,
         |  CAST(users_hit * 1000000 // greatest(1, n_users) AS BIGINT) AS user_hit_ppm
         |FROM a""".stripMargin),
    // MMR diversified top-5: greedy rel − max-sim-to-selected selection
    // (k corpus scans, broadcast selected set, zero corpus shuffles)
    Gate("emb_mmr_select", (s, dir) =>
      operators.Similarity.mmrSelect(Tables.embeddings(s, dir)),
      // unrolled greedy MMR (k = 5): each step's argmax of
      // rel − max-sim-to-selected, ties by vec_id — mirrors
      // Similarity.mmrSelect step for step
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT e AS qe FROM c WHERE vec_id = 0),
        |r AS (SELECT c.vec_id, c.e, list_cosine_similarity(c.e, q.qe) AS rel
        |  FROM c, q WHERE c.vec_id <> 0),
        |s1 AS (SELECT vec_id, e, rel FROM r ORDER BY rel DESC, vec_id LIMIT 1),
        |g1 AS (SELECT * FROM s1),
        |s2 AS (SELECT r.vec_id, r.e, r.rel FROM r
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM g1)
        |  ORDER BY r.rel - (SELECT max(list_cosine_similarity(r.e, s.e))
        |      FROM g1 s)
        |    DESC, r.vec_id LIMIT 1),
        |g2 AS (SELECT * FROM g1 UNION ALL SELECT * FROM s2),
        |s3 AS (SELECT r.vec_id, r.e, r.rel FROM r
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM g2)
        |  ORDER BY r.rel - (SELECT max(list_cosine_similarity(r.e, s.e))
        |      FROM g2 s)
        |    DESC, r.vec_id LIMIT 1),
        |g3 AS (SELECT * FROM g2 UNION ALL SELECT * FROM s3),
        |s4 AS (SELECT r.vec_id, r.e, r.rel FROM r
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM g3)
        |  ORDER BY r.rel - (SELECT max(list_cosine_similarity(r.e, s.e))
        |      FROM g3 s)
        |    DESC, r.vec_id LIMIT 1),
        |g4 AS (SELECT * FROM g3 UNION ALL SELECT * FROM s4),
        |s5 AS (SELECT r.vec_id, r.e, r.rel FROM r
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM g4)
        |  ORDER BY r.rel - (SELECT max(list_cosine_similarity(r.e, s.e))
        |      FROM g4 s)
        |    DESC, r.vec_id LIMIT 1),
        |g5 AS (SELECT * FROM g4 UNION ALL SELECT * FROM s5)
        |SELECT * FROM (SELECT 1::BIGINT AS sel_rank, vec_id FROM s1 UNION ALL SELECT 2::BIGINT AS sel_rank, vec_id FROM s2 UNION ALL SELECT 3::BIGINT AS sel_rank, vec_id FROM s3 UNION ALL SELECT 4::BIGINT AS sel_rank, vec_id FROM s4 UNION ALL SELECT 5::BIGINT AS sel_rank, vec_id FROM s5) ORDER BY sel_rank""".stripMargin),
    // farthest-point sampling: greedy k-center coreset from seed 0
    Gate("emb_fps_coreset", (s, dir) =>
      operators.Similarity.fpsCoreset(Tables.embeddings(s, dir)),
      // unrolled farthest-point sampling (k = 5, seed vec 0): argmax of
      // min squared L2 to the selected set; distance spelled
      // (a2+b2)-2ab exactly as Similarity.fpsCoreset
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s1 AS (SELECT vec_id, e FROM c WHERE vec_id = 0),
        |g1 AS (SELECT * FROM s1),
        |s2 AS (SELECT c.vec_id, c.e FROM c
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM g1)
        |  ORDER BY (SELECT min((list_inner_product(c.e,c.e) + list_inner_product(s.e,s.e)) - 2*list_inner_product(c.e,s.e))
        |      FROM g1 s) DESC, c.vec_id LIMIT 1),
        |g2 AS (SELECT * FROM g1 UNION ALL SELECT * FROM s2),
        |s3 AS (SELECT c.vec_id, c.e FROM c
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM g2)
        |  ORDER BY (SELECT min((list_inner_product(c.e,c.e) + list_inner_product(s.e,s.e)) - 2*list_inner_product(c.e,s.e))
        |      FROM g2 s) DESC, c.vec_id LIMIT 1),
        |g3 AS (SELECT * FROM g2 UNION ALL SELECT * FROM s3),
        |s4 AS (SELECT c.vec_id, c.e FROM c
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM g3)
        |  ORDER BY (SELECT min((list_inner_product(c.e,c.e) + list_inner_product(s.e,s.e)) - 2*list_inner_product(c.e,s.e))
        |      FROM g3 s) DESC, c.vec_id LIMIT 1),
        |g4 AS (SELECT * FROM g3 UNION ALL SELECT * FROM s4),
        |s5 AS (SELECT c.vec_id, c.e FROM c
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM g4)
        |  ORDER BY (SELECT min((list_inner_product(c.e,c.e) + list_inner_product(s.e,s.e)) - 2*list_inner_product(c.e,s.e))
        |      FROM g4 s) DESC, c.vec_id LIMIT 1),
        |g5 AS (SELECT * FROM g4 UNION ALL SELECT * FROM s5)
        |SELECT * FROM (SELECT 1::BIGINT AS sel_rank, vec_id FROM s1 UNION ALL SELECT 2::BIGINT AS sel_rank, vec_id FROM s2 UNION ALL SELECT 3::BIGINT AS sel_rank, vec_id FROM s3 UNION ALL SELECT 4::BIGINT AS sel_rank, vec_id FROM s4 UNION ALL SELECT 5::BIGINT AS sel_rank, vec_id FROM s5) ORDER BY sel_rank""".stripMargin))
}
