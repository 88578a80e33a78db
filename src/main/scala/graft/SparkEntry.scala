package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.SessionCache

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * north-star extension); every entry in [[oracleSql]] is the equivalent
  * DuckDB SQL over the same parquet tables. Column names and types are
  * aliased identically on both sides (the driver sorts columns by name
  * before hashing values), all money/float sums are per-row-rounded
  * integer cents, and every query has a total explicit ordering.
  */
object SparkEntry {

  /** The reference's cleaning regex (`sendFileByFile.cpp:89-91`),
    * escaped for a single-quoted DuckDB SQL literal (RE2 accepts the
    * same character-class escapes as Java regex).
    */
  private val SqlCleanPattern = "^[A-Za-z\\[\\\\\\]^_`'']*"

  /** DuckDB fragment: the cleaned lowercased token array for one
    * document — mirrors [[operators.WordCount.cleanWords]].
    */
  private val SqlWs =
    s"list_filter(list_transform(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), " +
      s"t -> lower(regexp_extract(t, '$SqlCleanPattern', 0))), w -> length(w) > 0)"

  /** DuckDB spelling of [[TextAnalysis.SymbolPattern]] (identical
    * class syntax in Java regex and RE2).
    */
  private val SqlSymbolPattern = "[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]"

  /** DuckDB fragment: one row per surviving token of `from`.text. */
  private def sqlWords(extra: String = "", where: String = "",
                       from: String = "documents"): String =
    s"""SELECT$extra lower(cleaned) AS word FROM (
       |  SELECT *, regexp_extract(tok, '$SqlCleanPattern', 0) AS cleaned FROM (
       |    SELECT *, unnest(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS tok FROM $from$where
       |  )
       |) WHERE length(cleaned) > 0""".stripMargin

  /** DuckDB fragment: (doc_id, n-gram shingle) rows — mirrors
    * [[operators.Dedup.shingles]] when distinct, the raw gram stream
    * otherwise.
    */
  private def sqlShingles(n: Int, distinct: Boolean = true,
                          where: String = ""): String =
    s"""SELECT${if (distinct) " DISTINCT" else ""} doc_id,
       |  array_to_string(list_slice(ws, i + 1, i + $n), ' ') AS shingle
       |FROM (SELECT doc_id, $SqlWs AS ws FROM documents$where),
       |     LATERAL (SELECT unnest(range(0, len(ws) - ${n - 1})) AS i) r
       |WHERE len(ws) >= $n""".stripMargin

  private val SqlShingles = sqlShingles(3)

  /** DuckDB CTE chain mirroring [[operators.Dedup.crossDocSpans]] at
    * w = 8: `isl` holds the merged (doc_id, tok_start, tok_end,
    * n_windows) islands; shared by the span-detection and span-cutting
    * oracles.
    */
  private def sqlCrossDocCtes(docs: String = "documents") =
    s"""sp AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS span
       |  FROM (SELECT doc_id, $SqlWs AS ws FROM $docs),
       |       LATERAL (SELECT unnest(range(0, len(ws) - 7)) AS i) r
       |  WHERE len(ws) >= 8),
       |dup AS (SELECT span FROM sp GROUP BY 1 HAVING min(doc_id) <> max(doc_id)),
       |m AS (SELECT sp.doc_id, sp.pos FROM sp JOIN dup USING (span)),
       |b AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
       |             THEN 1 ELSE 0 END AS brk
       |      FROM m),
       |isl0 AS (SELECT doc_id, pos,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM b),
       |isl AS (SELECT doc_id, min(pos) AS tok_start, max(pos) + 7 AS tok_end,
       |          count(*)::BIGINT AS n_windows
       |        FROM isl0 GROUP BY doc_id, island)""".stripMargin

  private val SqlCrossDocCtes = sqlCrossDocCtes()

  /** DuckDB: exact 3-gram Jaccard pairs above num/den — the oracle for
    * BOTH the brute-force jaccard query and the MinHash+LSH query (the
    * LSH path must converge to the exact answer after verification).
    */
  private def sqlJaccard(num: Int, den: Int): String =
    s"""WITH sh AS ($SqlShingles),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM sh a JOIN sh b USING (shingle)
       |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, inter, sa.n_sh + sb.n_sh - inter AS uni
       |FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
       |WHERE inter * $den > (sa.n_sh + sb.n_sh - inter) * $num
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB CTE chain mirroring [[operators.Dedup.winnowFingerprints]]
    * at k = 4, w = 4: `fp` holds (doc_id, fps) where fps are the
    * rightmost-window-min selected gram hashes. The md5-prefix hash
    * uses `nb` for the nibble index — an `i` would be captured by the
    * enclosing gram lambda and hash every gram identically.
    */
  private def sqlWinnowCtes(where: String = ""): String = {
    val md5big =
      "list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef', " +
        "substr(md5(array_to_string(list_slice(ws, i+1, i+4), ' ')), nb+1, 1)) - 1)::BIGINT << (4*(14-nb))))"
    s"""t AS (SELECT doc_id, $SqlWs AS ws FROM documents$where),
       |g AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
       |        $md5big) AS hs
       |      FROM t WHERE len(ws) >= 7),
       |sel AS (SELECT doc_id, hs,
       |          list_distinct(list_transform(range(0, len(hs) - 3), j ->
       |            j + 4 - list_position(list_reverse(list_slice(hs, j+1, j+4)),
       |                                  list_min(list_slice(hs, j+1, j+4))))) AS ps
       |        FROM g),
       |fp AS (SELECT doc_id, list_transform(ps, p -> hs[p+1]) AS fps FROM sel)""".stripMargin
  }

  private val SqlWinnowCtes = sqlWinnowCtes()

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
  private lazy val SqlAnnIncTopk =
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

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** DuckDB fragment: squared scaled-integer L2 between e.ev and c.cv. */
  private def sqlD2(e: String, c: String): String =
    s"CAST(list_sum(list_transform(range(1, len($e.ev) + 1), " +
      s"j -> ($e.ev[j] - $c.cv[j]) * ($e.ev[j] - $c.cv[j]))) AS BIGINT)"

  /** DuckDB CTE chain `ev, c0, a1, s1, c1, …, c<iters>` mirroring
    * [[operators.Clustering.lloydCentroids]] — `iters` unrolled Lloyd
    * iterations with truncating integer means (`//` == Spark `div`),
    * empty clusters keeping their previous centroid. The Spark side
    * runs "until converged, max iters"; a converged state is a fixed
    * point of the update, so both produce the same final centroids.
    *
    * `trainCond` (alias ⇒ predicate, e.g.
    * `a => s"$a.vec_id < (SELECT v FROM cut)"`) restricts the LLOYD
    * TRAINING rows — seeds and every assign/update round — while `ev`
    * itself stays the full corpus, so a caller's final assignment CTE
    * can span all vectors: the frozen-quantizer contract of the
    * incremental ANN index. Taking the row ALIAS as a parameter keeps
    * the predicate correct in both the bare seed CTE (`ev`) and the
    * aliased per-round assignment (`e`) without any text surgery.
    */
  private def sqlKmeansCents(k: Int, iters: Int,
                             trainCond: Option[String => String] = None)
      : String = {
    val innerWhere = trainCond.map(f => s" WHERE ${f("e")}").getOrElse("")
    val seedWhere = trainCond.map(f => s" WHERE ${f("ev")}").getOrElse("")
    val base =
      s"""ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS ev FROM embeddings),
         |c0 AS (SELECT vec_id AS cluster, ev AS cv FROM ev$seedWhere ORDER BY vec_id LIMIT $k)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, ev, cluster FROM (
         |  SELECT e.vec_id, e.ev, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c${i - 1} c$innerWhere) WHERE rn = 1),
         |s$i AS (SELECT cluster, list(m ORDER BY dim) AS newcv FROM (
         |  SELECT cluster, dim, CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS m FROM (
         |    SELECT a.cluster, r.i AS dim, a.ev[r.i] AS v
         |    FROM a$i a, LATERAL (SELECT unnest(range(1, len(a.ev) + 1)) AS i) r)
         |  GROUP BY cluster, dim) GROUP BY cluster),
         |c$i AS (SELECT p.cluster, COALESCE(s.newcv, p.cv) AS cv FROM c${i - 1} p LEFT JOIN s$i s ON p.cluster = s.cluster)""".stripMargin
    }
    (base +: iterCtes).mkString("WITH ", ",\n", "")
  }

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

  /** DuckDB mirror of [[TextAnalysis.bpeLearn]]: `n` unrolled
    * count-argmax-merge rounds over the token-string vocabulary (same
    * trailing-`/` representation, same non-overlapping `replace`), one
    * (p_i, w_i) CTE pair per round. No data-dependent literals — each
    * round's argmax is computed inside the SQL.
    */
  private def sqlBpeLearn(n: Int): String = {
    val sel = (1 to n)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, l AS lhs, r AS rhs, " +
        s"l || r AS merged, pc AS pair_cnt FROM p$i")
      .mkString("\nUNION ALL ")
    sqlBpeCtes(n) + s"\nSELECT * FROM (\n$sel\n) ORDER BY step"
  }

  /** The `WITH w0, (p_i, w_i)*` chain shared by [[sqlBpeLearn]] and the
    * segmentation oracle.
    */
  private def sqlBpeCtes(n: Int): String = {
    val base =
      s"""w0 AS (SELECT regexp_replace(word, '(.)', '\\1/', 'g') AS ts, count(*)::BIGINT AS cnt
         |  FROM (${sqlWords()}) GROUP BY 1)""".stripMargin
    val steps = (1 to n).map { i =>
      s"""p$i AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
         |  SELECT toks[j] AS l, toks[j + 1] AS r, cnt FROM (
         |    SELECT list_filter(string_split(ts, '/'), x -> x != '') AS toks, cnt FROM w${i - 1}),
         |    LATERAL (SELECT unnest(range(1, len(toks))) AS j) rr
         |  WHERE len(toks) >= 2)
         |GROUP BY 1, 2 ORDER BY pc DESC, l, r LIMIT 1),
         |w$i AS (SELECT coalesce(replace(ts, l || '/' || r || '/', l || r || '/'), ts) AS ts, cnt
         |  FROM w${i - 1} LEFT JOIN p$i ON TRUE)""".stripMargin
    }
    (base +: steps).mkString("WITH ", ",\n", "")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** The documents corpus materialized once per sf dir as a directory
    * of plain-text files — the reference's actual input format
    * (`sendFileByFile.cpp:422-444`), backing the text-directory and
    * streaming forms of the wordcount pipeline. Cached per SparkContext
    * so repeated bench runs (and new sessions) measure the query, not
    * the fixture write.
    */
  private def docsAsTextDir(s: SparkSession, dir: String): String =
    SessionCache.perContext(s, ("SparkEntry.text", dir)) {
      val out = TempDirs.scratchString("graft_textdir_")
      Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("text"))
        .write.mode("overwrite").text(out)
      out
    }

  /** The documents table round-tripped through a non-parquet format
    * once per (SparkContext, sf dir, format) — the CSV/JSON source
    * coverage (the wordcount oracle is format-invariant).
    */
  private def docsAsFormat(s: SparkSession, dir: String, fmt: String): String =
    SessionCache.perContext(s, ("SparkEntry.format", dir, fmt)) {
      val out = TempDirs.scratchString(s"graft_${fmt}_")
      val docs = Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      fmt match {
        case "csv" =>
          docs.write.mode("overwrite").option("header", "true").csv(out)
        case "json" => docs.write.mode("overwrite").json(out)
        case "orc"  => docs.write.mode("overwrite").orc(out)
        case "xml"  => docs.write.mode("overwrite").format("xml")
          .option("rootTag", "docs").option("rowTag", "doc").save(out)
      }
      out
    }

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference surface: word count family (SURVEY.md §2 rows 1-13)
    "wordcount" -> ((s, dir) =>
      WordCount.wordCount(Tables.documents(s, dir))),
    "wordcount_rdd" -> ((s, dir) =>
      WordCount.wordCountRdd(s, Tables.documents(s, dir))),
    // reference operators 1+3 end-to-end: a directory of text files
    // scanned by spark.read.textFile (same oracle as wordcount — line
    // splitting can't change the token multiset)
    "textdir_wordcount" -> ((s, dir) =>
      graft.sources.TextDirectory.wordCountDir(s, docsAsTextDir(s, dir))),
    // the reference pipeline in incremental form: Structured Streaming
    // over the same text directory, driven to completion (AvailableNow);
    // must converge to the batch wordcount oracle
    "streaming_wordcount" -> ((s, dir) =>
      graft.streaming.Streams.wordCountAvailableNow(s, docsAsTextDir(s, dir))),
    // the Space-Saving sketch as fixed-memory STREAMING state
    "streaming_topk_sketch" -> ((s, dir) =>
      graft.streaming.Streams.topkWordsSketchAvailableNow(
        s, docsAsTextDir(s, dir))),
    // the same directory through the custom DataSourceV2 connector
    // (file-pruning pushdown + column pruning; line splitting can't
    // change the token multiset, so the wordcount oracle holds)
    "textdir_v2_wordcount" -> ((s, dir) =>
      WordCount.wordCount(
        s.read.format("graft.sources.v2.TextDirSource")
          .load(docsAsTextDir(s, dir))
          .select(org.apache.spark.sql.functions.col("line").as("text")),
        "text")),
    "wordcount_per_source" -> ((s, dir) =>
      WordCount.wordCountBy(Tables.documents(s, dir), "text", "source")),
    // CSV / JSONL sources: the same pipeline over a schema'd csv/json
    // read (format-invariant oracle)
    "csv_wordcount" -> ((s, dir) =>
      WordCount.wordCount(s.read.option("header", "true")
        .schema("doc_id LONG, text STRING")
        .csv(docsAsFormat(s, dir, "csv")))),
    "json_wordcount" -> ((s, dir) =>
      WordCount.wordCount(s.read
        .schema("doc_id LONG, text STRING")
        .json(docsAsFormat(s, dir, "json")))),
    "orc_wordcount" -> ((s, dir) =>
      WordCount.wordCount(s.read.orc(docsAsFormat(s, dir, "orc")))),
    // Spark 4 native XML source: same roundtrip contract as csv/orc
    // (entity escaping can't change the token multiset)
    "xml_wordcount" -> ((s, dir) =>
      WordCount.wordCount(s.read.option("rowTag", "doc")
        .schema("doc_id LONG, text STRING")
        .format("xml").load(docsAsFormat(s, dir, "xml")))),
    // hive-partitioned lake: the filter prunes to one partition dir
    "partitioned_pruned_scan" -> ((s, dir) =>
      graft.sources.PartitionedLake.prunedDailySpend(s, dir)),
    // schema evolution: mergeSchema over a two-generation lake; gen-1
    // rows read NULL for the column generation 2 added
    "lake_schema_evolution" -> ((s, dir) =>
      graft.sources.PartitionedLake.schemaEvolutionStats(s, dir)),
    // dynamic partition overwrite: patch ONE partition's corrected
    // rows; the other partitions' survival is the semantics under test
    "lake_dynamic_overwrite" -> ((s, dir) =>
      graft.sources.PartitionedLake.dynamicOverwriteStats(s, dir)),
    "distinct_words" -> ((s, dir) =>
      WordCount.distinctWords(Tables.documents(s, dir))),
    // same count through the KMV TypedImperativeAggregate sketch
    // (exact below k=1024 distinct; the 100 TB approximate path).
    // ORACLE VALIDITY WINDOW: the exact-count oracle holds only while
    // corpus vocabulary ≤ 1024 (testdata vocab is tiny at every sf; on
    // a larger corpus the sketch is ±2/√k approximate by design) —
    // same caveat for topk_words_sketch (m=1024),
    // events_value_quantiles_sketch (exact ≤ k=32768 rows/group), and
    // the LSH queries
    // (dedup_minhash, emb_neardup_lsh) whose exact oracles rely on
    // banded-LSH recall ≈ 1 at the declared thresholds/seeds.
    "distinct_words_sketch" -> ((s, dir) =>
      WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
        .agg(graft.functions.KmvDistinct.kmv_distinct(
          org.apache.spark.sql.functions.col("word"), 1024).as("n_words"))),
    "top_bigrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(Tables.documents(s, dir), 2, 20)),
    // top-k through the Space-Saving sketch (exact below m=1024 distinct)
    "topk_words_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
        .agg(graft.functions.TopKFreqSketch.topk_sketch(col("word"), 1024).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.word").as("word"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
    }),
    // point frequencies through the count-min sketch: build once (one
    // scan, depth×width longs), broadcast the 1-row sketch, probe the
    // top words with the codegen builtin-expression estimator (exact
    // here: collision needs a shared cell in EVERY depth row)
    "topk_words_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val words = WordCount.explodeWords(Tables.documents(s, dir), "text", Nil)
      val cms = words.agg(
        graft.functions.CountMinAgg.cms_agg(col("word")).as("cms"))
      words.groupBy("word").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("word")).limit(20)
        .crossJoin(broadcast(cms))
        .select(col("word"),
          graft.functions.CountMinAgg.estimate(col("cms"), col("word")).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    }),
    "topk_words" -> ((s, dir) =>
      WordCount.topK(Tables.documents(s, dir), 20)),
    "word_length_hist" -> ((s, dir) =>
      WordCount.wordLengthHist(Tables.documents(s, dir))),
    "topk_words_per_source" -> ((s, dir) =>
      WordCount.topKPerGroup(Tables.documents(s, dir), "text", "source", 3)),
    // same semantics through the custom TopKPerKey physical operator
    // (bounded heaps + partial pushdown) instead of a window sort
    "topk_words_per_source_plan" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val counts = WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
        .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      graft.plans.TopK.perKey(counts, Seq("source"),
        Seq(("cnt", true), ("word", false)), 3)
        .orderBy(col("source"), col("rn"))
    }),
    // --- set operations / calendar
    "vocab_common_en_de" -> ((s, dir) =>
      WordCount.vocabIntersect(Tables.documents(s, dir), "lang", "en", "de")),
    // EXCEPT with a planted en-only doc so the gate is non-vacuous (the
    // synthetic corpora share their whole vocabulary across langs — a
    // bare EXCEPT matches the oracle on an empty set, proving nothing)
    "vocab_en_only" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(("en", "graftplanted graftsingleton"))
        .toDF("lang", "text")
      WordCount.vocabExcept(
        Tables.documents(s, dir).select("lang", "text").unionByName(planted),
        "lang", "en", "de")
    }),
    "events_by_day" -> ((s, dir) =>
      Relational.eventsByDay(Tables.events(s, dir))),
    // --- text analysis
    "doc_stats" -> ((s, dir) =>
      TextAnalysis.docStats(Tables.documents(s, dir))),
    "token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir))),
    // unicode canonicalization: a decomposed suffix (e + combining
    // acute) is planted on every doc, NFC composes it back to é —
    // delta = 1 proves the composition ran; fp hashes the normalized
    // text (the pre-dedup canonicalization pass)
    "doc_nfc_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val planted = concat(col("text"), lit("e\u0301"))
      val norm = graft.functions.functions.nfc_normalize(planted)
      Tables.documents(s, dir).select(col("doc_id"),
        (length(planted) - length(norm)).cast("long").as("delta"),
        md5(norm).as("fp")).orderBy("doc_id")
    }),
    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))),
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), chunkSize = 32, overlap = 8)),
    "dataset_split" -> ((s, dir) =>
      TextAnalysis.datasetSplit(Tables.documents(s, dir))),
    "corpus_build" -> ((s, dir) =>
      TextAnalysis.corpusBuild(Tables.documents(s, dir),
        cc = Some(graft.sources.DedupStage.ccLabels(s, dir)))),
    // capstone v2: exact dedup + Gopher static&repetition screens +
    // winnow span-cuts + chunk accounting + per-(split, source)
    // mixture rollup — the round-7..10 operators composed end to end
    "corpus_build_v2" -> ((s, dir) =>
      TextAnalysis.corpusBuildV2(Tables.documents(s, dir),
        islands = Some(graft.sources.DedupStage.islands(s, dir)))),
    "doc_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(
        WordCount.fillCores(Tables.documents(s, dir)))),
    // Gopher REPETITION rules (top-2-gram / duplicated-3-gram char
    // fractions) — the duplication half of the A1.1 screen (the plain
    // gram-count repetition stats are doc_repetition)
    "doc_repetition_gopher" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(
        WordCount.fillCores(Tables.documents(s, dir)))),
    // context-window packing accounting: concat per source in doc_id
    // order, cut every 256 tokens — sequences, fill, straddle rate
    "doc_seq_pack" -> ((s, dir) =>
      TextAnalysis.seqPackStats(Tables.documents(s, dir), budget = 256L)),
    "doc_reservoir_per_lang" -> ((s, dir) =>
      TextAnalysis.reservoirPerGroup(Tables.documents(s, dir), "lang", n = 5)),
    "bpe_pair_counts" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), k = 30)),
    "bpe_learn" -> ((s, dir) =>
      TextAnalysis.bpeLearn(Tables.documents(s, dir), nMerges = 6)),
    "doc_bpe_segment" -> ((s, dir) =>
      TextAnalysis.bpeSegment(Tables.documents(s, dir), nMerges = 6)),
    // per-language subwords/word and chars/subword under the learned
    // merges — which languages the tokenizer under-serves
    "vocab_fertility" -> ((s, dir) =>
      TextAnalysis.vocabFertility(Tables.documents(s, dir), nMerges = 6)),
    "bigram_pmi" -> ((s, dir) =>
      TextAnalysis.bigramPmi(Tables.documents(s, dir), minCnt = 5, k = 25)),
    "bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(Tables.documents(s, dir), minCnt = 5)),
    "doc_sparse_pairs" -> ((s, dir) =>
      TextAnalysis.sparseDotPairs(Tables.documents(s, dir), maxDf = 100,
        minDot = 2L)),
    // cross-lingual candidate pairs by shared rare terms — the blocking
    // stage of bitext mining (df-pruned before the join)
    "doc_langpair_mining" -> ((s, dir) =>
      TextAnalysis.langPairMining(Tables.documents(s, dir), "en", "de",
        maxDf = 200, minShared = 1L)),
    "phrase_search" -> ((s, dir) =>
      TextAnalysis.phraseSearch(Tables.documents(s, dir))),
    // n-word generalization: top trigram, one-shuffle offset-vote plan
    "phrase_search_3" -> ((s, dir) =>
      TextAnalysis.phraseSearchN(Tables.documents(s, dir), n = 3)),
    // sloppy-phrase proximity: all three terms within a 6-token
    // minimal cover window
    "proximity_search" -> ((s, dir) =>
      TextAnalysis.proximitySearch(Tables.documents(s, dir),
        Seq("hash", "join", "scan"), window = 6)),
    // consecutive 0..n-1 example ids WITHOUT the 1-partition global
    // sort: range partitions + per-partition offsets (zipWithIndex)
    "doc_global_index" -> ((s, dir) =>
      TextAnalysis.globalIndex(Tables.documents(s, dir))),
    // word2vec-style windowed co-occurrence via positional equi-join
    "skipgram_counts" -> ((s, dir) =>
      TextAnalysis.skipgramCounts(Tables.documents(s, dir))),
    // vocabulary-free hashing-trick features: 64 md5 slots per doc
    "doc_hashed_features" -> ((s, dir) =>
      TextAnalysis.hashedFeatures(Tables.documents(s, dir))),
    // deterministic unigram^0.75 negative draws per frequent center
    "skipgram_negatives" -> ((s, dir) =>
      TextAnalysis.skipgramNegatives(Tables.documents(s, dir))),
    "events_cohort_matrix" -> ((s, dir) =>
      Relational.cohortMatrix(Tables.events(s, dir))),
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), k = 100)),
    "doc_mixture_sample" -> ((s, dir) =>
      TextAnalysis.mixtureSample(Tables.documents(s, dir), budget = 200)),
    // two-phase salted quota ranking — same rows, same ranks, same oracle
    "doc_mixture_sample_salted" -> ((s, dir) =>
      TextAnalysis.mixtureSampleSalted(Tables.documents(s, dir), budget = 200,
        salts = 16)),
    // α=0.75 temperature quotas via correctly-rounded sqrt composition
    "doc_temperature_sample" -> ((s, dir) =>
      TextAnalysis.temperatureSample(Tables.documents(s, dir), budget = 200)),
    "doc_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir), n = 30)),
    "events_zorder_stats" -> ((s, dir) =>
      Layout.zorderStats(Tables.events(s, dir), bits = 16, bucketShift = 8)),
    "events_range_join" -> ((s, dir) =>
      RangeJoin.sessionClickCounts(Tables.events(s, dir), gapSec = 1800,
        bucketMs = 600000)),
    "events_value_outliers" -> ((s, dir) =>
      Relational.valueOutliers(Tables.events(s, dir), k = 3)),
    "events_value_mad" -> ((s, dir) =>
      Relational.valueMad(Tables.events(s, dir), k = 3)),
    "events_gap_fill" -> ((s, dir) =>
      Relational.gapFillDaily(Tables.events(s, dir))),
    // entity resolution: blocked candidates + banded edit-distance
    // verify; the d = 1 pair set is STAGED (3 consumer gates)
    "fuzzy_name_pairs" -> ((s, dir) =>
      graft.sources.DedupStage.fuzzyPairs(s, dir).orderBy("id_a", "id_b")),
    // lev <= 2 via the k-deletion SymSpell neighborhood (C(len,2)
    // variants) — single consumer, deliberately NOT staged
    "fuzzy_name_pairs_d2" -> ((s, dir) =>
      Dedup.blockedFuzzyPairs(Tables.customer(s, dir), maxDist = 2)),
    // ...and the full ER story: cluster the verified pairs (block ->
    // verify -> cluster); star CC, not propagation: the digit-
    // substitution name graph builds deep chain components (measured
    // 8.0 s propagating at sf0.1 vs ~3.5 s in log rounds — NOTES r5)
    "fuzzy_entity_clusters" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.sources.DedupStage.fuzzyClusters(s, dir)
        .orderBy("custkey")
    }),
    // --- dedup
    "dedup_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanRatio(Tables.documents(s, dir), w = 8)),
    "dedup_crossdoc_spans" -> ((s, dir) =>
      graft.sources.DedupStage.islands(s, dir)
        .orderBy("doc_id", "tok_start")),
    "dedup_cut_spans" -> ((s, dir) =>
      Dedup.cutSpansFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.islands(s, dir))),
    "doc_shard_assign" -> ((s, dir) =>
      TextAnalysis.shardAssign(Tables.documents(s, dir), nShards = 4)),
    // rank-refined band window — bit-identical shards, same oracle
    "doc_shard_assign_refined" -> ((s, dir) =>
      TextAnalysis.shardAssignRefined(Tables.documents(s, dir), nShards = 4)),
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir))),
    // the brute-force truth anchor; its verified pair set is STAGED
    // once per (session, dir) and shared by every rollup gate below —
    // the r13 bench-budget fix (same derivation, paid once)
    "dedup_ngram_jaccard" -> ((s, dir) =>
      graft.sources.DedupStage.pairs(s, dir).orderBy("id_a", "id_b")),
    // lossless prefix-filtered Jaccard (PPJoin): same answer as the
    // brute inverted-index join, candidates from rarest-first prefixes
    "dedup_prefix_filter" -> ((s, dir) =>
      Dedup.prefixFilterPairs(Tables.documents(s, dir), n = 3, num = 4, den = 5)),
    "dedup_minhash" -> ((s, dir) =>
      graft.sources.DedupStage.minhashPairs(s, dir).orderBy("id_a", "id_b")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxDist = 3)),
    "dedup_keep_list" -> ((s, dir) =>
      Dedup.keepListFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir))),
    "doc_repetition" -> ((s, dir) =>
      Dedup.repetitionStats(Tables.documents(s, dir), n = 3)),
    // the three components gates each exercise their OWN algorithm
    // (propagation / star contraction / adaptive) over the staged pair
    // set; the rollup gates below share the staged LABELS frame, since
    // every CC variant converges to the same min-id fixed point
    "dedup_components" -> ((s, dir) =>
      Dedup.components(graft.sources.DedupStage.pairs(s, dir))),
    // the O(log n)-round star-contraction form, same fixed point
    "dedup_components_star" -> ((s, dir) =>
      Dedup.componentsStar(graft.sources.DedupStage.pairs(s, dir))),
    // the adaptive front door itself, gated against the same CC oracle
    // with propRounds = 1 so the contraction fallback path is the one
    // under test at every scale factor (the sf graphs converge fast)
    "dedup_components_adaptive" -> ((s, dir) =>
      Dedup.componentsAdaptive(graft.sources.DedupStage.pairs(s, dir),
        propRounds = 1)),
    "dedup_keep_list_cc" -> ((s, dir) =>
      Dedup.keepListCCFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir))),
    // split assigned by hash of the near-dup COMPONENT, not the doc id —
    // near-duplicates can never straddle train/test (leakage-proof)
    "dataset_split_leakproof" -> ((s, dir) =>
      Dedup.splitLeakproofFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir))),
    // per-cluster QUALITY argmax instead of the id-order root
    "dedup_keep_best_quality" -> ((s, dir) =>
      Dedup.keepBestQualityFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir))),
    // nightly-increment dedup: incoming docs vs base, base never re-paired
    "dedup_increment" -> ((s, dir) =>
      Dedup.dedupIncrement(Tables.documents(s, dir), baseMaxId = 250,
        n = 3, b = 32, r = 4, num = 4, den = 5)),
    // ...and the same report probing the PERSISTED bucketed index:
    // base indexed once per (SparkContext, dir), increments pay only their
    // own computation — equivalent by construction, shared oracle
    "dedup_increment_indexed" -> ((s, dir) =>
      graft.sources.DedupIndex.incrementReport(s, dir, baseMaxId = 250)),
    "decontaminate" -> ((s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir), benchMaxId = 50, n = 8)),
    // memorization/curation signal: per new doc, how many of its
    // 8-grams the base corpus already contains (novel fraction, ppm)
    "doc_novelty" -> ((s, dir) =>
      Dedup.noveltyReport(Tables.documents(s, dir), baseMaxId = 250L, n = 8)),
    "decontaminate_strict" -> ((s, dir) =>
      Dedup.decontaminateStrict(Tables.documents(s, dir), benchMaxId = 50, n = 8)),
    // the filter VERDICT table: per-doc reason bitmask (gopher=1,
    // exact-dup copy=2, contaminated=4, near-dup drop=8) + keep flag
    "corpus_filter_report" -> ((s, dir) =>
      Dedup.corpusFilterReportFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir))),
    // weekly-seasonality probe: integer lag-7 autocorrelation of the
    // daily event volume
    "events_autocorr_lag7" -> ((s, dir) =>
      Relational.eventsAutocorrLag(Tables.events(s, dir))),
    // ratio-based "dirty doc" rule: ≥30% of a doc's 3-grams in-benchmark
    "decontaminate_fuzzy" -> ((s, dir) =>
      Dedup.decontaminateFuzzy(Tables.documents(s, dir), benchMaxId = 50,
        n = 3, thrX1000 = 300)),
    // asymmetric containment over corpus + planted half-docs: the
    // plants sit at containment ≈ 1.0 but Jaccard ≈ 0.5, so this set
    // strictly exceeds what any jaccard gate can see
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Dedup.plantHalfDocs(Tables.documents(s, dir)),
        n = 4, num = 9, den = 10)),
    // the full scale path: LSH candidates → exact verify → connected
    // components (same recursive-CTE oracle as dedup_components, since
    // verified minhash pairs converge to the exact jaccard pair set);
    // adaptive front door: propagation speed on shallow graphs, star
    // contraction bound when the diameter runs away — the 100 TB shape
    "dedup_components_minhash" -> ((s, dir) =>
      Dedup.componentsAdaptive(
        graft.sources.DedupStage.minhashPairs(s, dir))),
    // --- similarity search
    "knn_cosine" -> ((s, dir) =>
      Similarity.knnBruteForce(Tables.embeddings(s, dir), nQueries = 10, k = 5)),
    // same ranking through the custom TopKPerKey bounded-heap operator
    "knn_cosine_plan" -> ((s, dir) =>
      Similarity.knnTopKPlan(Tables.embeddings(s, dir), nQueries = 10, k = 5)),
    // contrastive hard negatives: top-k inside the cosine annulus
    // [0.05, 0.30) — confusable but not a disguised positive
    "knn_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), nQueries = 10, k = 5)),
    "ann_ivf" -> ((s, dir) =>
      Similarity.annIvf(Tables.embeddings(s, dir), nQueries = 10, k = 5, bits = 4)),
    "emb_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir), threshold = 0.45)),
    // LSH-pruned variant at duplicate-level threshold (scale path;
    // verified candidates converge to the exact answer). Runs over the
    // corpus + 20 planted near-dups (cos ≈ 0.99) so the oracle match
    // exercises recall on a non-empty pair set.
    "emb_neardup_lsh" -> ((s, dir) =>
      Similarity.lshNearDup(
        Similarity.plantNearDups(Tables.embeddings(s, dir), nPlants = 20),
        threshold = 0.9)),
    // --- multimodal (ALL-REAL codecs: PNG via ImageIO, WAV via the
    // hand-rolled RIFF parser, video via ImageIO's multi-frame
    // animated-GIF reader — no stubs remain. Payload content is
    // planted doc_id arithmetic, so the oracles replay every decoded
    // value without a codec — see Multimodal.)
    // media_meta stays deliberately LIVE (fresh encode per run, the
    // d=2 fuzzy-gate convention) so the sweep keeps measuring the
    // encode→decode round trip; the other six media gates read the
    // session-staged payload table (MediaStage, round 15 — encoded
    // once per (session, dir), the family's parquet handoff shape)
    "media_meta" -> ((s, dir) =>
      Multimodal.realMediaMeta(s,
        Multimodal.realMedia(Tables.documents(s, dir)))),
    "media_feature_stats" -> ((s, dir) =>
      Multimodal.realFeatureStats(s, graft.sources.MediaStage.media(s, dir))),
    // VAD-style audio screen: per-item frame energy + silent-run
    // profile over REAL decoded WAV samples
    "media_silence_profile" -> ((s, dir) =>
      Multimodal.realSilenceProfile(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 1))),
    // perceptual-hash (aHash) near-dup over DECODED pixels, planted
    // clone + one-pixel-perturbed pairs
    "media_phash_neardup" -> ((s, dir) =>
      Multimodal.realPhashNearDup(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 0))),
    // --- relational / events
    "q1_pricing" -> ((s, dir) => Relational.q1Pricing(s, dir)),
    "q3_revenue" -> ((s, dir) => Relational.q3Revenue(s, dir)),
    "q5_local_supplier" -> ((s, dir) => Relational.q5LocalSupplierRevenue(s, dir)),
    "q6_forecast" -> ((s, dir) => Relational.q6Forecast(s, dir)),
    "q18_large_orders" -> ((s, dir) => Relational.q18LargeOrders(s, dir)),
    "events_retention" -> ((s, dir) =>
      Relational.retention(Tables.events(s, dir))),
    "parts_revenue_by_brand" -> ((s, dir) => Relational.partsRevenueByBrand(s, dir)),
    "top_orders_per_cust" -> ((s, dir) => Relational.topOrdersPerCustomer(s, dir)),
    "wordcount_salted" -> ((s, dir) =>
      WordCount.wordCountSalted(Tables.documents(s, dir), 16)),
    // explicit salted equi-join (hot-key spreading): orders ⋈ customer
    // over 8 salt buckets, aggregated per nation — result is
    // salt-invariant so it shares a plain-join oracle
    "orders_nation_salted_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val big = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val small = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      Skew.saltedJoin(big, small, "custkey", 8)
        .groupBy("c_nationkey")
        .agg(sum("price_c").as("sum_price_cents"), count(lit(1)).as("n_orders"))
        .orderBy("c_nationkey")
    }),
    // co-located bucketed join: both sides bucketed+sorted on orderkey
    // at write time, joined with zero exchanges (plan-audited)
    "bucketed_join_revenue" -> ((s, dir) =>
      graft.sources.Bucketing.bucketedRevenueByPriority(s, dir)),
    // per-group KMV sketch (exact below k per group)
    "distinct_words_per_source_sketch" -> ((s, dir) =>
      WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
        .groupBy("source")
        .agg(graft.functions.KmvDistinct.kmv_distinct(
          org.apache.spark.sql.functions.col("word"), 1024).as("n_words"))
        .orderBy("source")),
    "events_asof" -> ((s, dir) =>
      Relational.asofViewBeforePurchase(Tables.events(s, dir))),
    // nearest-either-side asof variant (ties -> earlier view)
    "events_asof_nearest" -> ((s, dir) =>
      Relational.asofNearestView(Tables.events(s, dir))),
    // RANGE-interval rolling window: last-7-days per-user aggregate
    "events_rolling_7d" -> ((s, dir) =>
      Relational.rollingUserWindow(Tables.events(s, dir))),
    // exact running distinct via the first-day rewrite
    "events_cumulative_users" -> ((s, dir) =>
      Relational.cumulativeUsers(Tables.events(s, dir))),
    // closed-form integer least-squares slope of daily volume
    "events_daily_trend" -> ((s, dir) =>
      Relational.dailyTrend(Tables.events(s, dir))),
    // CDC change set between the split-point state and the log end
    "events_snapshot_diff" -> ((s, dir) =>
      Relational.snapshotDiff(Tables.events(s, dir))),
    // exact positional p05/p95 clipping, raw vs winsorized sums
    "events_winsorized" -> ((s, dir) =>
      Relational.winsorizedStats(Tables.events(s, dir))),
    // linear interpolation between observed neighbors on the day spine
    "events_gap_interp" -> ((s, dir) =>
      Relational.gapInterpDaily(Tables.events(s, dir))),
    // first-appearance novelty profile over 3-gram shingles
    "doc_ngram_novelty" -> ((s, dir) =>
      graft.operators.Dedup.ngramNovelty(Tables.documents(s, dir), n = 3)),
    "events_pivot" -> ((s, dir) =>
      Relational.eventTypePivot(Tables.events(s, dir))),
    "events_rollup" -> ((s, dir) =>
      Relational.eventsRollup(Tables.events(s, dir))),
    "events_cube" -> ((s, dir) =>
      Relational.eventsCube(Tables.events(s, dir))),
    "events_grouping_sets" -> ((s, dir) =>
      Relational.eventsGroupingSets(Tables.events(s, dir))),
    "events_props_map" -> ((s, dir) =>
      Relational.propsMapStats(Tables.events(s, dir))),
    // Spark 4 VariantType: parse_json -> VARIANT -> variant_get extract
    "events_props_variant" -> ((s, dir) =>
      Relational.propsVariantStats(Tables.events(s, dir))),
    "events_funnel" -> ((s, dir) =>
      Relational.funnel(Tables.events(s, dir))),
    "events_tumbling" -> ((s, dir) => Relational.eventsTumbling(s, dir)),
    "events_sessionize" -> ((s, dir) => Relational.sessionize(s, dir)),
    "events_session_window" -> ((s, dir) =>
      Relational.sessionWindows(Tables.events(s, dir))),
    "events_json" -> ((s, dir) => Relational.eventsJson(s, dir)),
    "events_interval_join" -> ((s, dir) =>
      Relational.intervalJoinViews(Tables.events(s, dir))),
    "events_value_quantiles" -> ((s, dir) =>
      Relational.valueQuantiles(Tables.events(s, dir))),
    // same quantiles through the mergeable KLL sketch (exact ≤ k=32768
    // rows/group — covers every test sf; the fixed-memory 100 TB path)
    "events_value_quantiles_sketch" -> ((s, dir) =>
      Relational.valueQuantilesSketch(Tables.events(s, dir))),
    "customer_spend_tiers" -> ((s, dir) =>
      Relational.customerSpendTiers(s, dir)),
    "events_daily_momentum" -> ((s, dir) =>
      Relational.dailyMomentum(Tables.events(s, dir))),
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir))),
    // integer-exact BM25 over a corpus-derived 3-term query: postings
    // semi-join-pruned before df, length norm in milli fixed-point
    "doc_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir))),
    "pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir))),
    "doc_sample_hash" -> ((s, dir) =>
      TextAnalysis.hashSample(Tables.documents(s, dir), pct = 10)),
    // per-stratum keep rates over the same deterministic id hash — the
    // language-balancing primitive of a corpus build
    "doc_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, dir), "lang",
        Map("en" -> 10, "de" -> 50), defaultPct = 25)),
    // posting lists with state-capped aggregation (stopwords keep exact
    // df but never build collect_set state)
    "inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir))),
    // contiguous greedy packing of docs into fixed token budgets,
    // per-source shard (parallel prefix sums, no global window)
    "doc_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir))),
    // PageRank over the word-adjacency graph: integer-scaled damped
    // power iteration, 3 unrolled rounds in the oracle
    "word_pagerank" -> ((s, dir) =>
      Graph.wordPageRankFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // seeded teleport: rank = proximity to the top-2 corpus words
    "word_ppr" -> ((s, dir) =>
      Graph.wordPprFrom(Tables.documents(s, dir),
        graft.sources.GraphStage.wordEdges(s, dir))),
    // degree-oriented wedge-join triangle count of the same word graph
    "word_triangles" -> ((s, dir) =>
      Graph.triangleCount(Tables.documents(s, dir))),
    // BFS hop distances from the smallest word (frontier expansion)
    "word_bfs_dist" -> ((s, dir) =>
      Graph.bfsDistancesFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // HITS hubs/authorities: integer max-normalized half-steps,
    // 2 unrolled rounds in the oracle
    "word_hits" -> ((s, dir) =>
      Graph.wordHitsFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // 24-core by iterative peeling (order-independent fixpoint)
    "word_kcore" -> ((s, dir) =>
      Graph.wordKCoreFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // rank flow proportional to bigram occurrence counts
    "word_pagerank_weighted" -> ((s, dir) =>
      Graph.wordPageRankWeightedFrom(graft.sources.GraphStage.wordEdgeCounts(s, dir))),
    // synchronous LPA communities, 2 deterministic rounds
    "word_communities" -> ((s, dir) =>
      Graph.wordCommunitiesFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // Newman modularity of the LPA partition, exact-integer ppm
    "word_modularity" -> ((s, dir) =>
      Graph.wordModularityFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // market-basket support counting: part pairs co-bought in ≥2 orders
    "part_copurchase" -> ((s, dir) =>
      Graph.copurchaseEdges(Tables.lineitem(s, dir))
        .orderBy(org.apache.spark.sql.functions.col("supp").desc,
          org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"))
        .limit(100)
        .withColumnRenamed("a", "part_a").withColumnRenamed("b", "part_b")),
    // common-neighbors link prediction on the co-purchase graph:
    // item-to-item recommendation over NON-adjacent part pairs
    "part_link_pred" -> ((s, dir) =>
      Graph.commonNeighborPairs(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // per-node local clustering coefficient on the co-purchase graph
    // (ppm): tree-like hubs score 0, clique members 10^6
    "part_clustering_coeff" -> ((s, dir) =>
      Graph.clusteringCoefficients(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // association rules: ppm confidence + lift over the directed pairs
    "part_assoc_rules" -> ((s, dir) =>
      Graph.associationRulesFrom(Tables.lineitem(s, dir),
        graft.sources.GraphStage.copurchase(s, dir))),
    // Newman degree assortativity of the co-purchase graph (exact ppm)
    "part_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // CUSUM change-point: the day where cumulative deviation peaks
    "events_cusum_split" -> ((s, dir) =>
      Relational.eventsCusumSplit(Tables.events(s, dir))),
    // degree-weighted link prediction: hubs discounted 1/deg (ppm)
    "part_link_pred_ra" -> ((s, dir) =>
      Graph.resourceAllocationPairs(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // integer α=1/2 EWMA of daily counts — exact halving recurrence
    "events_ewma" -> ((s, dir) =>
      Relational.eventsEwma(Tables.events(s, dir))),
    // weighted Space-Saving: top spenders by summed cents in one
    // bounded-state aggregation (m = 4096 > distinct users -> exact)
    "events_top_spenders_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, dir)
        .select(col("user_id").cast("string").as("u"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .agg(graft.functions.TopKWeightedSketch
          .topk_weighted(col("u"), col("cents"), 4096).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.word").cast("long").as("user_id"),
          col("e.cnt").as("spend_cents"))
        .orderBy(col("spend_cents").desc, col("user_id")).limit(20)
    }),
    // freshness panel: observed vs silent minutes per day
    "events_ingestion_gaps" -> ((s, dir) =>
      Relational.ingestionGaps(Tables.events(s, dir))),
    // lexical richness: TTR quartiles per language
    "doc_ttr_by_lang" -> ((s, dir) =>
      TextAnalysis.ttrByLang(Tables.documents(s, dir))),
    // LTV triangle: cohort month x months-since-acquisition revenue
    "orders_cohort_ltv" -> ((s, dir) =>
      Relational.cohortLtv(Tables.orders(s, dir))),
    // sampling self-eval: realized mixture skew of the 10% hash sample
    "sample_bias_report" -> ((s, dir) =>
      TextAnalysis.sampleBiasReport(Tables.documents(s, dir))),
    // discourse-position profile of frequent words (per-mille)
    "word_position_profile" -> ((s, dir) =>
      TextAnalysis.wordPositionProfile(Tables.documents(s, dir))),
    // on-call page condition: hours at 1.5x their day's observed mean
    "events_error_bursts" -> ((s, dir) =>
      Relational.errorBursts(Tables.events(s, dir))),
    // IVF balance report: per-cell population + ppm share
    "ann_cell_histogram" -> ((s, dir) =>
      Similarity.annCellHistogram(Tables.embeddings(s, dir))),
    // dedup tuning sweep: candidate pairs surviving 0.7/0.8/0.9
    "dedup_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(Tables.documents(s, dir), n = 3)),
    // growth dashboard: daily new vs returning users
    "events_new_vs_returning" -> ((s, dir) =>
      Relational.newVsReturning(Tables.events(s, dir))),
    // vector QA: both norm tails in one report
    "emb_norm_extremes" -> ((s, dir) =>
      Similarity.normExtremes(Tables.embeddings(s, dir))),
    // wall-clock activity matrix (dow x hour, epoch arithmetic)
    "events_hour_dow_heatmap" -> ((s, dir) =>
      Relational.hourDowHeatmap(Tables.events(s, dir))),
    // engagement rollup: session duration/size quartiles
    "events_session_stats" -> ((s, dir) =>
      Relational.sessionStats(Tables.events(s, dir))),
    // mixture monitor: dominant lang + purity ppm per source
    "doc_lang_purity" -> ((s, dir) =>
      TextAnalysis.langPurityBySource(Tables.documents(s, dir))),
    // procurement health: return ppm + mean ship lag per supplier
    "supplier_scorecard" -> ((s, dir) =>
      Relational.supplierScorecard(Tables.lineitem(s, dir),
        Tables.orders(s, dir))),
    // packing utilization: per-source fill ppm + underfull count
    "doc_pack_efficiency" -> ((s, dir) =>
      TextAnalysis.packEfficiency(Tables.documents(s, dir))),
    // distribution drift between time halves (TV distance in ppm)
    "events_type_drift" -> ((s, dir) =>
      Relational.eventTypeDrift(Tables.events(s, dir))),
    // basket-size distribution behind the market-basket suite
    "order_size_hist" -> ((s, dir) =>
      Relational.orderSizeHistogram(Tables.lineitem(s, dir))),
    // Church-Gale burstiness: clumping words vs function words
    "word_burstiness" -> ((s, dir) =>
      TextAnalysis.wordBurstiness(Tables.documents(s, dir))),
    // dedup observability: near-dup cluster-size histogram
    "dedup_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterSizeHistogramFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir))),
    // SLA report: order->first-ship lag quartiles per priority
    "orders_fulfillment_lag" -> ((s, dir) =>
      Relational.fulfillmentLag(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // ML-ops drift tripwire: per-dim mean delta between corpus halves
    "emb_drift_check" -> ((s, dir) =>
      Similarity.embDriftCheck(Tables.embeddings(s, dir))),
    // recency-weighted LTV: exact monthly halving via right-shift
    "customer_clv_decay" -> ((s, dir) =>
      Relational.customerClvDecay(Tables.orders(s, dir))),
    // product quality screen: ppm return rate at min volume
    "part_return_rates" -> ((s, dir) =>
      Relational.partReturnRates(Tables.lineitem(s, dir))),
    // per-user behavioral features (bot-model inputs)
    "events_user_features" -> ((s, dir) =>
      Relational.userBehaviorFeatures(Tables.events(s, dir))),
    // YoY growth ppm per nation over nation×year revenue rollups
    "nation_yoy_revenue" -> ((s, dir) =>
      Relational.nationYoyRevenue(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    // confusion matrix of the lang-id heuristic vs labeled lang
    "lang_confusion_matrix" -> ((s, dir) =>
      TextAnalysis.langConfusionMatrix(Tables.documents(s, dir))),
    // snapshot-anchored receivables aging buckets over open orders
    "orders_aging_buckets" -> ((s, dir) =>
      Relational.ordersAgingBuckets(Tables.orders(s, dir))),
    // 80/20 curve: running revenue share ppm over ranked parts
    "parts_pareto_curve" -> ((s, dir) =>
      Relational.partsParetoCurve(Tables.lineitem(s, dir))),
    // log-free diversity monitor: per-day Gini impurity of type mix
    "events_type_gini" -> ((s, dir) =>
      Relational.eventTypeGini(Tables.events(s, dir))),
    // hash-bucketed A/B readout: per-arm exposed/converted/ppm rate
    "events_ab_test" -> ((s, dir) =>
      Relational.abTestReport(Tables.events(s, dir))),
    // Holt level+trend double smoothing — the EWMA fold with a trend
    "events_holt" -> ((s, dir) =>
      Relational.eventsHolt(Tables.events(s, dir))),
    // grouped integer OLS: fastest-growing parts by monthly quantity
    "part_monthly_trend" -> ((s, dir) =>
      Relational.partMonthlyTrend(Tables.lineitem(s, dir))),
    // compaction planning: ship-day row groups packed into ~2000-row
    // sequential bins (running-total div target)
    "lake_compaction_bins" -> ((s, dir) =>
      operators.Layout.compactionBins(
        Tables.lineitem(s, dir)
          .groupBy(org.apache.spark.sql.functions.expr(
            "unix_millis(cast(l_shipdate as timestamp)) div 86400000")
            .as("epoch_day"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_rows")),
        "epoch_day", "n_rows", target = 2000L)),
    // Deequ-style declarative constraint audit over the warehouse
    "dq_audit" -> ((s, dir) =>
      DataQuality.audit(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // last-touch attribution: purchases credited to the latest prior
    // click/view within 7 days (one window pass, no self-join)
    "events_attribution" -> ((s, dir) =>
      Relational.lastTouchAttribution(Tables.events(s, dir))),
    // top opening event-type sequences per session (session id and
    // in-session position from ONE user-keyed window pass)
    "events_journey_paths" -> ((s, dir) =>
      Relational.journeyPaths(Tables.events(s, dir))),
    // day-of-week seasonal baseline outliers (doubled-unit medians,
    // integer cross-multiplied thresholds)
    "events_anomaly_dow" -> ((s, dir) =>
      Relational.anomalyDow(Tables.events(s, dir))),
    // per-stage funnel conversion delays (count/min/max/p50/p90)
    "events_conversion_time" -> ((s, dir) =>
      Relational.conversionTime(Tables.events(s, dir))),
    // RFM quartile segmentation (global percentile cuts broadcast)
    "customer_rfm_segments" -> ((s, dir) =>
      Relational.rfmSegments(Tables.orders(s, dir))),
    // daily error-rate ppm (pipeline-health series)
    "events_error_rate" -> ((s, dir) =>
      Relational.errorRateDaily(Tables.events(s, dir))),
    // DAU/WAU stickiness: rolling 7-day distinct via window explode
    "events_dau_wau" -> ((s, dir) =>
      Relational.dauWau(Tables.events(s, dir))),
    // Heaps-law vocabulary growth curve (one wordcount-shaped shuffle)
    "word_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir))),
    // per-source exact-dup observability rollup
    "dedup_stats_by_source" -> ((s, dir) =>
      Dedup.dupStatsBySource(Tables.documents(s, dir))),
    // product families: O(log n)-round connected components over the
    // support-thresholded co-purchase graph
    "part_families" -> ((s, dir) =>
      Dedup.componentsStar(graft.sources.GraphStage.copurchase(s, dir)
          .select(org.apache.spark.sql.functions.col("a").as("id_a"),
            org.apache.spark.sql.functions.col("b").as("id_b")))
        .withColumnRenamed("doc_id", "part_id")
        .withColumnRenamed("comp", "family")),
    // dominant principal direction by integer power iteration — the
    // all-but-the-top embedding debias primitive
    "emb_top_direction" -> ((s, dir) =>
      Clustering.topDirection(Tables.embeddings(s, dir))),
    // all-but-the-top applied: largest residual norms after projecting
    // out the dominant direction
    "emb_residual_top" -> ((s, dir) =>
      Clustering.residualTop(Tables.embeddings(s, dir))),
    // the amortized PQ serving shape: codebooks from the session index
    // cache, queries pay only encode + LUT probe (shares the ann_pq
    // oracle — same codebooks, same ADC values)
    "ann_pq_indexed" -> ((s, dir) =>
      Similarity.annPqIndexed(s, dir, nQueries = 10, k = 5)),
    // per-join-key multiplicity profile: the pre-join skew diagnostic
    "join_skew_profile" -> ((s, dir) =>
      DataQuality.skewProfile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
    // CCNet-style cross-doc boilerplate chunk removal
    "doc_boilerplate_scrub" -> ((s, dir) =>
      TextAnalysis.boilerplateScrub(Tables.documents(s, dir))),
    // the raw-markup front door: tag/script/style stripping + entity
    // decode ahead of every other corpus operator, proven on a
    // planted-markup wrapper of the clean fixture
    "doc_html_extract" -> ((s, dir) =>
      TextAnalysis.htmlExtract(Tables.documents(s, dir))),
    // the parity proof: the engine's wordcount over EXTRACTED text vs
    // an oracle that never sees the markup (clean text + planted
    // constants) — extraction loss breaks the hash
    "doc_html_extract_wordcount" -> ((s, dir) =>
      TextAnalysis.htmlExtractWordcount(Tables.documents(s, dir))),
    // the capstone fed from the markup front door: wrap → extract →
    // dedup ∩ gopher ∩ repetition ∩ span-cut → chunk/mixture (a crawl
    // pipeline end to end; oracle = the v2 SQL over the extraction's
    // proven clean form)
    "corpus_build_v3" -> ((s, dir) =>
      TextAnalysis.corpusBuildV3(Tables.documents(s, dir))),
    // Zipf-shape frequency-of-frequency histogram
    "word_freq_of_freq" -> ((s, dir) =>
      TextAnalysis.freqOfFreq(Tables.documents(s, dir))),
    "doc_bigram_familiarity" -> ((s, dir) =>
      TextAnalysis.bigramFamiliarity(Tables.documents(s, dir))),
    // CCNet-style per-language head/middle/tail LM-score buckets
    "doc_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, dir))),
    // refined per-lang window (prefix-sum offset + closed-form ntile):
    // bit-identical buckets, dominant-language-safe; shares the oracle
    "doc_perplexity_buckets_refined" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsRefined(Tables.documents(s, dir))),
    // modern SQL aggregate surface: count_if + listagg WITHIN GROUP
    // (deterministic: DISTINCT + explicit order), run via spark.sql
    // over the registered views — the SQL-first entry point under gate
    "docs_modern_agg" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT source,
              |  count(*) AS n_docs,
              |  count_if(n_chars > 200) AS n_long,
              |  listagg(DISTINCT lang, ',') WITHIN GROUP (ORDER BY lang) AS langs
              |FROM documents GROUP BY source ORDER BY source""".stripMargin)
    }),
    // recursive CTE (Spark 4.1 WITH RECURSIVE, UNION ALL form): the
    // day spine generated by recursion instead of sequence(), zero-
    // filled against per-day purchase counts — the linear-recursion
    // shape that cannot blow up (one row begets one row). The spine
    // BOUNDS are fetched once up front (one 1-row aggregate — bounded
    // metadata, the maintenance-controller read pattern): a scalar
    // subquery inside the recursive member is re-planned and re-run
    // EVERY iteration (Spark's UnionLoop inlines it), which measured
    // 8.3 s vs 0.47 s for the literal-bound form at sf0.1 — 30 full
    // events scans for a 30-day spine. Don't put even an uncorrelated
    // subquery in a recursive member.
    "sql_recursive_spine" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      val b = s.sql("""SELECT min(ts_ms div 86400000) AS mn,
                      |  max(ts_ms div 86400000) AS mx FROM events""".stripMargin)
        .head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      s.sql(s"""WITH RECURSIVE spine(d) AS (
               |  SELECT CAST($mn AS BIGINT)
               |  UNION ALL
               |  SELECT d + 1 FROM spine WHERE d < $mx)
               |SELECT d AS epoch_day, count(e.event_id) AS n_purchases
               |FROM spine LEFT JOIN
               |  (SELECT event_id, ts_ms div 86400000 AS ed FROM events
               |   WHERE event_type = 'purchase') e ON e.ed = spine.d
               |GROUP BY d ORDER BY d""".stripMargin)
    }),
    // SQL PIVOT clause (the syntax surface; events_pivot is the
    // DataFrame form): daily counts fanned to one column per type
    "sql_pivot" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT * FROM (
              |  SELECT ts_ms div 86400000 AS epoch_day, event_type
              |  FROM events)
              |PIVOT (count(*) FOR event_type IN
              |  ('click', 'view', 'purchase', 'signup', 'error'))
              |ORDER BY epoch_day""".stripMargin)
    }),
    // SQL UNPIVOT clause (events_melt is the DataFrame form): wide
    // order columns folded to (metric, val) rows
    "sql_unpivot" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT o_orderkey, metric, val FROM (
              |  SELECT o_orderkey,
              |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
              |    o_custkey FROM orders)
              |UNPIVOT (val FOR metric IN (price_cents, o_custkey))
              |ORDER BY o_orderkey, metric""".stripMargin)
    }),
    // correlated LATERAL subquery (top-3 orders per customer by spend):
    // Catalyst decorrelates the correlated ORDER BY+LIMIT into a ranked
    // window join — the SQL surface beside top_orders_per_cust's
    // explicit window formulation
    "sql_lateral_topk" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT c_custkey, o_orderkey, cents FROM customer,
              |LATERAL (SELECT o_orderkey,
              |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              |  FROM orders WHERE o_custkey = c_custkey
              |  ORDER BY cents DESC, o_orderkey LIMIT 3)
              |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin)
    }),
    // ANSI three-valued logic pinned: NOT IN against a set containing
    // NULL is never TRUE (0 rows), while NOT EXISTS ignores the NULL —
    // the classic silent-data-loss trap, asserted engine-identical
    "sql_not_in_nulls" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""WITH sub AS (
              |  SELECT CASE WHEN n_nationkey = 3 THEN NULL
              |              ELSE n_nationkey END AS k
              |  FROM nation)
              |SELECT
              |  (SELECT count(*) FROM customer
              |   WHERE c_nationkey IN (SELECT k FROM sub)) AS n_in,
              |  (SELECT count(*) FROM customer
              |   WHERE c_nationkey NOT IN (SELECT k FROM sub)) AS n_not_in,
              |  (SELECT count(*) FROM customer c WHERE NOT EXISTS (
              |     SELECT 1 FROM sub WHERE sub.k = c.c_nationkey)) AS n_not_exists""".stripMargin)
    }),
    // multiset set-operation semantics: INTERSECT/EXCEPT ALL keep
    // per-row multiplicity (min / clamped difference per key) vs the
    // distinct forms — all four cardinalities in one row
    "sql_set_ops" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 25),
              |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
              |SELECT
              |  (SELECT count(*) FROM
              |    (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t) AS n_intersect_all,
              |  (SELECT count(*) FROM
              |    (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t) AS n_except_all,
              |  (SELECT count(*) FROM
              |    (SELECT * FROM a INTERSECT SELECT * FROM b) t) AS n_intersect,
              |  (SELECT count(*) FROM
              |    (SELECT * FROM a EXCEPT SELECT * FROM b) t) AS n_except""".stripMargin)
    }),
    // GROUP BY ALL surface (groups inferred from the non-aggregate
    // select list), integer-cents money
    "sql_group_by_all" -> ((s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
              |FROM lineitem
              |GROUP BY ALL
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),
    // DSIR-style selection: hashed-token target/raw importance ratio,
    // fixed-point integers, top-n via TakeOrderedAndProject
    "dsir_select" -> ((s, dir) =>
      TextAnalysis.dsirSelect(Tables.documents(s, dir))),
    "doc_editdist_next" -> ((s, dir) =>
      TextAnalysis.editDistanceToNext(Tables.documents(s, dir))),
    // resize pipeline: REAL ImageIO decode → nearest-neighbor resample
    // to 4×3 → re-encode → re-decode (dims + pixel sum oracle-pinned)
    "media_resize" -> ((s, dir) =>
      Multimodal.realResize(s, graft.sources.MediaStage.media(s, dir))),
    "media_frame_sample" -> ((s, dir) =>
      Multimodal.realFrameSample(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 2))),
    "events_type_rank" -> ((s, dir) =>
      Relational.eventTypeRanks(Tables.events(s, dir))),
    // integer-exact variance components (the deterministic stddev form)
    "events_value_stats" -> ((s, dir) =>
      Relational.eventsValueStats(Tables.events(s, dir))),
    // SCD-1 merge: full-outer join + coalesce upsert
    "events_snapshot_upsert" -> ((s, dir) =>
      Relational.snapshotUpsert(Tables.events(s, dir))),
    // sweep-line interval counting: open-order backlog curve
    "orders_open_backlog" -> ((s, dir) =>
      Relational.openBacklog(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // exact integer OLS slope: quantity on discount percent
    "sales_discount_slope" -> ((s, dir) =>
      Relational.discountSlope(Tables.lineitem(s, dir))),
    // point-in-time join: purchases against the SCD2 version valid at
    // their timestamp (temporal correctness for feature pipelines)
    "events_scd2_lookup" -> ((s, dir) =>
      Relational.scd2Lookup(Tables.events(s, dir))),
    // per-dimension whitening stats: integer two-moment identity
    "emb_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),
    // first two principal directions via integer Hotelling deflation
    "emb_top2_directions" -> ((s, dir) =>
      Clustering.top2Directions(Tables.embeddings(s, dir))),
    // index self-evaluation: per-query IVF recall vs brute force
    "ann_recall_report" -> ((s, dir) =>
      Similarity.annRecallReport(Tables.embeddings(s, dir))),
    // aggregate-of-aggregates incremental rollup
    "events_weekly_rollup" -> ((s, dir) =>
      Relational.weeklyFromDaily(Tables.events(s, dir))),
    // typed Dataset[T] groupByKey/mapGroups surface
    "typed_user_spend" -> ((s, dir) =>
      Relational.typedUserSpend(Tables.events(s, dir))),
    // SCD2 full-history dimension build (versioned validity intervals)
    "events_scd2" -> ((s, dir) =>
      Relational.scd2(Tables.events(s, dir))),
    // typed KeyValueGroupedDataset.cogroup two-sided per-key merge
    "cogroup_user_activity" -> ((s, dir) =>
      Relational.cogroupUserActivity(Tables.events(s, dir),
        Tables.orders(s, dir))),
    // percent_rank/cume_dist distribution positions, keyed windows
    "events_percent_rank" -> ((s, dir) =>
      Relational.eventsPercentRank(Tables.events(s, dir))),
    // RANGE frame (time-valued, tie-safe) peak moving sum
    "events_peak_window" -> ((s, dir) =>
      Relational.peakWindowSpend(Tables.events(s, dir))),
    // unpivot/melt: the wide→long reshape of the pivot
    "events_melt" -> ((s, dir) =>
      Relational.eventTypeMelt(Tables.events(s, dir))),
    // higher-order array functions (filter/transform/aggregate), no UDF
    "emb_array_stats" -> ((s, dir) =>
      Similarity.arrayStats(Tables.embeddings(s, dir))),
    // keyed ntile quartiles (never the global single-partition ntile)
    "events_ntile" -> ((s, dir) =>
      Relational.eventsNtile(Tables.events(s, dir))),
    // first_value / last_value over an unbounded total-ordered frame
    "events_user_first_last" -> ((s, dir) =>
      Relational.userFirstLast(Tables.events(s, dir))),
    "events_sliding" -> ((s, dir) =>
      Relational.slidingWindows(Tables.events(s, dir))),
    "events_clicks_views_fo" -> ((s, dir) =>
      Relational.clicksVsViewsByDay(Tables.events(s, dir))),
    "q4_order_priority" -> ((s, dir) => Relational.q4OrderPriority(s, dir)),
    "q10_returned_cust" -> ((s, dir) => Relational.q10ReturnedCustomers(s, dir)),
    "q14_promo_share" -> ((s, dir) => Relational.q14PromoShare(s, dir)),
    "q7_volume" -> ((s, dir) => Relational.q7Volume(s, dir)),
    "q8_market_share" -> ((s, dir) => Relational.q8MarketShare(s, dir)),
    "q9_profit" -> ((s, dir) => Relational.q9Profit(s, dir)),
    "q12_shipdelay" -> ((s, dir) => Relational.q12ShipDelay(s, dir)),
    "q13_custdist" -> ((s, dir) => Relational.q13CustDist(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Relational.q15TopSupplier(s, dir)),
    "q17_small_qty" -> ((s, dir) => Relational.q17SmallQty(s, dir)),
    "q19_disjunctive" -> ((s, dir) => Relational.q19Disjunctive(s, dir)),
    "q22_dormant_rich" -> ((s, dir) => Relational.q22DormantRich(s, dir)),
    "q2_min_cost_supplier" -> ((s, dir) => Relational.q2MinCostSupplier(s, dir)),
    "q11_important_parts" -> ((s, dir) => Relational.q11ImportantParts(s, dir)),
    "q16_supplier_cnt" -> ((s, dir) => Relational.q16SupplierCount(s, dir)),
    "q20_promotion_suppliers" -> ((s, dir) => Relational.q20PromotionSuppliers(s, dir)),
    "q21_waiting_suppliers" -> ((s, dir) => Relational.q21WaitingSuppliers(s, dir)),
    "events_transitions" -> ((s, dir) =>
      Relational.eventTransitions(Tables.events(s, dir))),
    // depth-1 sequence mining: adjacent event-type pairs by distinct-user support
    "events_seq_bigrams" -> ((s, dir) =>
      operators.Basket.seqBigrams(Tables.events(s, dir))),
    // governance: k-anonymity equivalence-class-size profile and the
    // sensitive-attribute diversity (l-diversity) histogram
    "pii_k_anonymity" -> ((s, dir) =>
      operators.Basket.kAnonymityProfile(Tables.customer(s, dir))),
    "pii_l_diversity" -> ((s, dir) =>
      operators.Basket.lDiversityProfile(Tables.customer(s, dir))),
    // MATCH_RECOGNIZE-lite: regex over per-user ordered type initials
    "events_pattern_match" -> ((s, dir) =>
      operators.Basket.patternMatch(Tables.events(s, dir))),
    // user-user collaborative filtering: df-pruned inverted index,
    // integer cosine², bounded-heap top-k per customer — served from
    // the persisted bucketed CF index (built once per session+dir,
    // shared with the recommendations/rec_eval gates)
    "customer_cf_neighbors" -> ((s, dir) =>
      graft.sources.CfIndex.cfNeighbors(s, dir)),
    // incremental index maintenance: the post-cut delta orders FOLD
    // into the persisted base-split neighbor graph (signed pair/degree
    // deltas + touched-only re-rank) — byte-equal to the full
    // recompute, so it shares the cf_neighbors oracle
    "customer_cf_increment" -> ((s, dir) =>
      graft.sources.CfIndex.cfIncrement(s, dir)),
    // promotion: the merged increment state persisted as the NEXT
    // base (closing the nightly loop); probe-only after the one-time
    // write, same recompute oracle
    "customer_cf_promote" -> ((s, dir) =>
      graft.sources.CfIndex.cfPromote(s, dir)),
    // the IVM degeneracy diagnostic: how much of the customer
    // population the delta fold actually touches (touched_ppm near
    // 10^6 = the regime where a recompute beats the increment) — read
    // from the SAME cached fold the increment/promote gates share
    "customer_cf_increment_stats" -> ((s, dir) =>
      graft.sources.CfIndex.cfIncrementStats(s, dir)),
    // whole-file binary source: one blob per doc, exact byte round-trip
    "binaryfile_roundtrip" -> ((s, dir) =>
      graft.sources.BinaryFiles.roundtrip(s, dir)),
    // PERMISSIVE bad-records ingest: malformed rows quarantined, exact
    "csv_corrupt_records" -> ((s, dir) =>
      graft.sources.CorruptCsv.ingestReport(s, dir)),
    // explicit runtime row-level filter: bloom prefilter on the fact
    // scan + exact semi-join verify (result exact regardless of FP)
    "bloom_semi_join" -> ((s, dir) =>
      RuntimeFilter.bloomPrunedRevenue(s, dir)),
    // k-means Lloyd building blocks over embeddings — scaled-integer
    // distance math, so assignment + sufficient stats are exact
    "kmeans_assign" -> ((s, dir) =>
      Clustering.assign(Tables.embeddings(s, dir), k = 8)),
    "kmeans_step" -> ((s, dir) =>
      Clustering.step(Tables.embeddings(s, dir), k = 8)),
    // Lloyd run to convergence (max 5 iterations; the converged state
    // is a fixed point, so this equals the oracle's 5-times unroll)
    "kmeans_converged" -> ((s, dir) =>
      Clustering.lloydConverged(Tables.embeddings(s, dir), k = 8, maxIters = 5)),
    // IVF over the LEARNED centroids (k-means cells, not sign bits);
    // the index build is cached per (session, dir) — build once, query many
    "ann_ivf_kmeans" -> ((s, dir) =>
      Similarity.annIvfKmeansIndexed(s, dir, nQueries = 10, k = 5)),
    // queries probe their 2 nearest cells — the IVF recall lever;
    // shares the cached centroid index with the single-probe gates
    "ann_ivf_multiprobe" -> ((s, dir) =>
      Similarity.annIvfMultiprobe(s, dir, nQueries = 10, k = 5)),
    // the same IVF search through the PERSISTED on-disk index: cell-
    // bucketed postings, query reads only its own cells' buckets
    "ann_ivf_disk" -> ((s, dir) =>
      graft.sources.AnnIndex.annReport(s, dir, nQueries = 10, k = 5)),
    // incremental index maintenance: the last 20% of vectors APPEND to
    // the persisted cell postings under frozen base-trained centroids
    "ann_ivf_increment" -> ((s, dir) =>
      graft.sources.AnnIndex.annIncrementReport(s, dir, nQueries = 10, k = 5)),
    // the rebuild tripwire: delta quantization error vs base, in ppm
    "ann_increment_drift" -> ((s, dir) =>
      graft.sources.AnnIndex.annIncrementDrift(s, dir)),
    // compaction: append-accumulated postings rewritten to one file
    // per bucket; probe result provably unchanged (same oracle)
    "ann_index_compact" -> ((s, dir) =>
      graft.sources.AnnIndex.annCompactReport(s, dir, nQueries = 10, k = 5)),
    // the scheduled REBUILD the drift tripwire asks for: Lloyd retrain
    // over the index's own stored vectors, one-pass argmin re-encode,
    // atomic swap — the retrain spans all vectors, so the result is
    // the full-corpus-trained IVF (shares the ann_ivf_disk oracle)
    "ann_ivf_rebuild" -> ((s, dir) =>
      graft.sources.AnnIndex.annRebuildReport(s, dir, nQueries = 10, k = 5)),
    // the maintenance decision as one call: drift report + the action
    // taken (rebuild runs iff the tripwire fires; fixture deltas are
    // in-distribution, so the gate row is 'keep' at every SF)
    "ann_maintain" -> ((s, dir) =>
      graft.sources.AnnIndex.annMaintain(s, dir)),
    // the eval that certifies a rebuild before its swap ships:
    // per-query recall of the rebuilt index vs brute-force truth
    "ann_rebuild_recall" -> ((s, dir) =>
      graft.sources.AnnIndex.annRebuildRecall(s, dir)),
    // SemDeDup: k-means cells bound the pairwise-cosine dedup quadratic;
    // keep-list drops any vector with a similar lower-id cell-mate
    "semdedup_keep" -> ((s, dir) =>
      Similarity.semDedupKeep(s, dir, threshold = 0.45)),
    // SSL-prototypes pruning: each cluster's nKeep most-central members
    // by exact scaled-integer centroid distance (bounded-heap top-k);
    // centroids come from the shared cached k-means index
    "emb_prototypes" -> ((s, dir) =>
      Clustering.prototypesKeepWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir), nKeep = 40)),
    // int8 scalar-quantized ANN: ranking entirely on quantized codes
    // with exact integer distances — the 4×-smaller-index lever
    "ann_sq8" -> ((s, dir) =>
      Similarity.annSq8(Tables.embeddings(s, dir), nQueries = 10, k = 5)),
    // product quantization + ADC (Jégou et al. 2011): m=4 subspace
    // codebooks, corpus stored as codes, query distance = m LUT
    // lookups — the 64× index-compression path
    "ann_pq" -> ((s, dir) =>
      Similarity.annPq(Tables.embeddings(s, dir), nQueries = 10, k = 5)),
    // the full FAISS-style IVFx,PQy: cell-pruned candidates ranked by
    // the same exact-integer ADC sum; coarse quantizer shared with the
    // other IVF consumers via the session centroid cache
    "ann_ivfpq" -> ((s, dir) =>
      Similarity.annIvfPq(Tables.embeddings(s, dir), nQueries = 10, k = 5,
        coarseCents = Some(Similarity.cachedCentroids(s, dir)))),
    // JL ±1 random projection to 16 dims, exact integer coordinates
    "emb_random_projection" -> ((s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir))),
    // watermark+window streaming under the driver's oracle: the events
    // parquet as a file stream, tumbling windows, run to completion
    "streaming_events_windows" -> ((s, dir) =>
      graft.streaming.Streams.eventsWindowsAvailableNow(s, dir)),
    // streaming dedup (dropDuplicatesWithinWatermark) and custom state
    // (mapGroupsWithState), both driven to completion + batch-oracled
    "streaming_dedup" -> ((s, dir) =>
      graft.streaming.Streams.dedupAvailableNow(s, dir)),
    "streaming_session_counts" -> ((s, dir) =>
      graft.streaming.Streams.sessionCountsAvailableNow(s, dir)),
    // multi-row custom state (flatMapGroupsWithState): one row per
    // SESSION, equal to the batch sessionize output
    // 14th streaming gate: ordered per-key state replay — per-purchase
    // last-touch attribution, equal to the batch window form
    "streaming_attribution" -> ((s, dir) =>
      graft.streaming.Streams.attributionAvailableNow(s, dir)),
    // the CDC-tombstone accumulator as keyed streaming state
    "streaming_since_last_error" -> ((s, dir) =>
      graft.streaming.Streams.sinceLastErrorAvailableNow(s, dir)),
    // daily EWMA as keyed day-fold state + per-type sentinel flush
    "streaming_ewma" -> ((s, dir) =>
      graft.streaming.Streams.ewmaAvailableNow(s, dir)),
    // the two-state (level+trend) streaming fold, same flush pattern
    "streaming_holt" -> ((s, dir) =>
      graft.streaming.Streams.holtAvailableNow(s, dir)),
    "streaming_session_rows" -> ((s, dir) =>
      graft.streaming.Streams.sessionRowsAvailableNow(s, dir)),
    // stream-stream interval join (watermark-bounded state) and
    // sliding windows, both run to completion and batch-oracled
    "streaming_interval_join" -> ((s, dir) =>
      graft.streaming.Streams.intervalJoinAvailableNow(s, dir)),
    // stream-stream LEFT OUTER interval join: unmatched purchases emit
    // a -1 sentinel once the watermark (heartbeat-advanced) passes them
    "streaming_interval_join_outer" -> ((s, dir) =>
      graft.streaming.Streams.leftOuterIntervalJoinAvailableNow(s, dir)),
    // Spark 4 transformWithState: typed ValueState on RocksDB
    "streaming_tws_user_spend" -> ((s, dir) =>
      graft.streaming.Streams.twsUserSpendAvailableNow(s, dir)),
    "streaming_events_sliding" -> ((s, dir) =>
      graft.streaming.Streams.slidingWindowsAvailableNow(s, dir)),
    // stream-static enrichment join: broadcast batch dim, no join state
    "streaming_static_join" -> ((s, dir) =>
      graft.streaming.Streams.streamStaticJoinAvailableNow(s, dir)),
    // KLL sketch as streaming aggregation state; equals the batch
    // sketch query (and so its oracle) when driven to completion
    "streaming_quantiles_sketch" -> ((s, dir) =>
      graft.streaming.Streams.valueQuantilesSketchAvailableNow(s, dir)),
    // the production file sink: checkpointed parquet append, batch read
    "streaming_file_sink" -> ((s, dir) =>
      graft.streaming.Streams.fileSinkWordCount(s, docsAsTextDir(s, dir))),
    // foreachBatch MERGE-style upsert into versioned parquet snapshots
    "streaming_foreachbatch_upsert" -> ((s, dir) =>
      graft.streaming.Streams.foreachBatchUpsertAvailableNow(s, dir)),
    // conversion funnel as keyed streaming state over a time-split
    // two-batch replay (23rd streaming gate): greedy chain frontier
    // per user, batch-equal to events_window_funnel
    "streaming_window_funnel" -> ((s, dir) =>
      graft.streaming.Streams.windowFunnelAvailableNow(s, dir)),
    // lake time-travel: version v0 of the upsert snapshot chain reads
    // back as the batch recompute over the FIRST micro-batch only
    "lake_time_travel" -> ((s, dir) =>
      graft.streaming.Streams.lakeTimeTravel(s, dir)),
    // snapshot expiry/vacuum planning: per version, rows + retained
    // flag under keep-last-1 retention
    "lake_snapshot_expiry" -> ((s, dir) =>
      graft.streaming.Streams.snapshotExpiry(s, dir)),
    // mixture planning: per-source rate/epochs for a token budget at
    // target ppm weights — the pass BEFORE any sampler runs
    "corpus_mixture_plan" -> ((s, dir) =>
      TextAnalysis.mixturePlan(Tables.documents(s, dir),
        Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 150000L,
          "src3" -> 50000L), budgetTokens = 100000L)),
    // Benford first-digit audit over order totals (exact digit math)
    "benford_audit" -> ((s, dir) =>
      Relational.benfordAudit(Tables.orders(s, dir))),
    // stationary distribution of the event-type Markov chain: 15
    // power-iteration rounds in exact scaled integers
    "events_markov_stationary" -> ((s, dir) =>
      Relational.markovStationary(Tables.events(s, dir))),
    // WOE-style feature screen: per-$50-bin error rate + lift in ppm
    "events_value_bin_lift" -> ((s, dir) =>
      Relational.valueBinLift(Tables.events(s, dir))),
    // zero-shuffle dictionary tagger over the cleaned token arrays
    "multi_keyword_tag" -> ((s, dir) =>
      TextAnalysis.keywordTag(Tables.documents(s, dir), TagKeywords)),
    // parquet bloom-filter point lookup on an unsorted high-card key
    "parquet_bloom_scan" -> ((s, dir) =>
      graft.sources.BloomParquet.pointLookup(s, dir)),
    // Bellman-Ford weighted SSSP over the word adjacency graph
    "word_sssp" -> ((s, dir) =>
      Graph.ssspWordsFrom(graft.sources.GraphStage.wordEdgeCounts(s, dir))),
    // sweep-line interval overlap: peak concurrent open orders
    "orders_concurrency" -> ((s, dir) =>
      Relational.ordersConcurrency(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // two-sample KS drift statistic between click and view values
    "events_ks_drift" -> ((s, dir) =>
      Relational.ksDrift(Tables.events(s, dir))),
    // exact-quota 80/10/10 stratified split per language
    "doc_quota_split" -> ((s, dir) =>
      TextAnalysis.quotaSplit(Tables.documents(s, dir))),
    // Apriori-pruned frequent 3-itemsets over order baskets
    "part_itemsets3" -> ((s, dir) =>
      Basket.itemsets3(Tables.lineitem(s, dir))),
    // additive seasonal decomposition: per-DOW index, exact integers
    "events_seasonal_dow" -> ((s, dir) =>
      Relational.seasonalDecompose(Tables.events(s, dir))),
    // gaps-and-islands: longest consecutive-day streak per user
    "events_user_streaks" -> ((s, dir) =>
      Relational.userStreaks(Tables.events(s, dir))),
    // lag-based debounce accounting per event type
    "events_debounce" -> ((s, dir) =>
      Relational.debounceStats(Tables.events(s, dir))),
    // exact global median via two histogram passes, zero global sorts
    "events_exact_median" -> ((s, dir) =>
      Relational.exactMedian2Pass(Tables.events(s, dir))),
    // HHI supplier-revenue concentration per nation in ppm
    "supplier_herfindahl" -> ((s, dir) =>
      Relational.supplierHerfindahl(Tables.lineitem(s, dir),
        Tables.supplier(s, dir))),
    // simplified silhouette: per-cluster quality of the Lloyd run
    // quality readout over the SHARED session k-means (r16: the private
    // Lloyd run here was derivation-identical to cachedCentroids(8, 5);
    // kmeans_converged stays the live Lloyd gate)
    "kmeans_silhouette" -> ((s, dir) =>
      Clustering.silhouetteWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir))),
    // 2-D Pareto frontier over the size domain (cummin walk)
    "parts_skyline" -> ((s, dir) =>
      Relational.partsSkyline(Tables.part(s, dir))),
    // two-sweep BFS diameter lower bound of the word graph
    "word_diameter_2sweep" -> ((s, dir) =>
      Graph.diameter2SweepFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // exact p25/50/75/90/99 grid via one two-pass histogram selection
    "events_percentile_grid" -> ((s, dir) =>
      Relational.exactPercentiles2Pass(Tables.events(s, dir))),
    // bounded k-truss peel: cohesive word-graph edges by tri support
    "word_ktruss_edges" -> ((s, dir) =>
      Graph.ktrussEdgesFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // one-pass sessionizer gap-parameter sweep (10/30/60 min)
    "events_session_sensitivity" -> ((s, dir) =>
      Relational.sessionSensitivity(Tables.events(s, dir))),
    // repurchase cadence: weekly histogram of inter-order gaps
    "customer_interorder_gaps" -> ((s, dir) =>
      Relational.interorderGaps(Tables.orders(s, dir))),
    // grid-partitioned DBSCAN on the 2-D embedding slice
    "emb_dbscan" -> ((s, dir) =>
      Clustering.dbscanGrid(Tables.embeddings(s, dir))),
    // t-closeness EMD audit over the (nation, segment) QI classes
    "pii_t_closeness" -> ((s, dir) =>
      Basket.tClosenessProfile(Tables.customer(s, dir))),
    // CDC-style resettable accumulator: spend since the last error
    "events_since_last_error" -> ((s, dir) =>
      Relational.sinceLastError(Tables.events(s, dir))),
    // reciprocal-rank fusion of the BM25 and tf-sum rankers
    "doc_hybrid_rrf" -> ((s, dir) =>
      TextAnalysis.hybridRrf(Tables.documents(s, dir))),
    // integer Zipf slope of the frequency-rank curve
    "word_zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir))),
    // radius-bounded multi-source BFS closeness on co-purchase graph
    "part_closeness" -> ((s, dir) =>
      Graph.closenessBfsFrom(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // inter-event gap CV-squared: the bot-cadence feature
    "events_gap_regularity" -> ((s, dir) =>
      Relational.gapRegularity(Tables.events(s, dir))),
    // users sharing 10-min windows: co-occurrence over time
    "events_coactivity_pairs" -> ((s, dir) =>
      Relational.coactivityPairs(Tables.events(s, dir))),
    // exact trailing-7-day rolling median (doubled units)
    "events_rolling_median_7d" -> ((s, dir) =>
      Relational.rollingMedian7d(Tables.events(s, dir))),
    // month-of-year revenue index vs the flat 1/12 share
    "orders_seasonality_index" -> ((s, dir) =>
      Relational.seasonalityIndex(Tables.orders(s, dir))),
    // cluster-mass drift between corpus halves on shared centroids
    // r16: shares the session k-means like kmeans_silhouette above
    "emb_cluster_drift" -> ((s, dir) =>
      Clustering.clusterDriftWith(Tables.embeddings(s, dir),
        Similarity.cachedCentroids(s, dir))),
    // within-doc hapax share: lexical diversity per document
    "doc_hapax_ratio" -> ((s, dir) =>
      TextAnalysis.hapaxRatio(Tables.documents(s, dir))),
    // segment x brand purchase lift through the 4-table join path
    "segment_brand_lift" -> ((s, dir) =>
      Relational.segmentBrandLift(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.part(s, dir))),
    // STL-style trend/seasonal/residual split in declared unit scales
    "events_stl_decompose" -> ((s, dir) =>
      Relational.stlDecompose(Tables.events(s, dir))),
    // top-N part recommendations probing the persisted CF index —
    // candidate expansion against the bucketed incidence table
    "customer_recommendations" -> ((s, dir) =>
      graft.sources.CfIndex.recommendations(s, dir)),
    // leave-latest-order-out offline eval of the CF recommender:
    // hit-rate and user coverage in exact ppm, scored against the
    // persisted TRAIN-split index (leakage-free at index write time)
    "customer_rec_eval" -> ((s, dir) =>
      graft.sources.CfIndex.recEval(s, dir)),
    // union-normalized link prediction (CN / RA / Jaccard family)
    "part_link_pred_jaccard" -> ((s, dir) =>
      Graph.jaccardLinkPred(
        graft.sources.GraphStage.copurchase(s, dir).select("a", "b"))),
    // daily KMV sketches MATERIALIZED, then re-merged to weekly
    // distincts (k=8192 keeps every test sf inside the exact window)
    "events_weekly_users_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, expr}
      Tables.events(s, dir)
        .groupBy(expr("ts_ms div 86400000").as("epoch_day"))
        .agg(graft.functions.KmvSketchAgg
          .kmv_sketch(col("user_id"), 8192).as("sk"))
        .groupBy(expr("epoch_day div 7").as("epoch_week"))
        .agg(graft.functions.KmvMergeDistinct
          .kmv_merge_distinct(col("sk"), 8192).as("n_users"))
        // exactness contract checked (see vocab_jaccard_sketch): the
        // merged sketch is exact only below k
        .where(org.apache.spark.sql.functions.isnull(expr(
          "assert_true(n_users < 8192, " +
            "'KMV k=8192 saturated: weekly distinct users >= k')")))
        .orderBy("epoch_week")
    }),
    // churn ppm per segment against the data-derived snapshot
    "customer_churn_by_segment" -> ((s, dir) =>
      Relational.churnBySegment(Tables.orders(s, dir),
        Tables.customer(s, dir))),
    // in-session dwell time attributed to the earlier event's type
    "events_dwell_time" -> ((s, dir) =>
      Relational.dwellTime(Tables.events(s, dir))),
    // nightly increment of the inverted index: touched-term df deltas
    "index_increment" -> ((s, dir) =>
      TextAnalysis.indexIncrement(Tables.documents(s, dir), baseMaxId = 250)),
    // two-set KMV sketch with set ops: en/de vocab Jaccard (a planted
    // en-only doc keeps the overlap strictly partial — the synthetic
    // corpora share their whole vocabulary otherwise)
    "vocab_jaccard_sketch" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(("en", "graftplanted graftsingleton"))
        .toDF("lang", "text")
      val docs = Tables.documents(s, dir).select("lang", "text")
        .unionByName(planted)
        .where(org.apache.spark.sql.functions.col("lang").isin("en", "de"))
      WordCount.explodeWords(docs, "text", Seq("lang"))
        .agg(graft.functions.KmvJaccard.kmv_jaccard(
          org.apache.spark.sql.functions.col("word"),
          org.apache.spark.sql.functions.col("lang") === "en").as("j"))
        .select(
          org.apache.spark.sql.functions.col("j.n_a").as("n_en"),
          org.apache.spark.sql.functions.col("j.n_b").as("n_de"),
          org.apache.spark.sql.functions.col("j.n_inter").as("n_shared"),
          org.apache.spark.sql.functions.col("j.jaccard_ppm"))
        // below-k exactness contract CHECKED, not assumed: if a larger
        // sf pushes either side's vocabulary to k=1024 the sketch
        // silently switches to the estimator — fail loudly instead of
        // hash-mismatching with no diagnostic
        .where(org.apache.spark.sql.functions.isnull(
          org.apache.spark.sql.functions.expr(
            "assert_true(n_en < 1024 and n_de < 1024, " +
              "'KMV k=1024 saturated: per-side vocab >= k')")))
    }),
    // bowtie decomposition of the DIRECTED word graph: the pivot's SCC
    // exactly (fwd ∩ bwd reachability) plus in/out wings + disconnected
    "word_bowtie" -> ((s, dir) =>
      Graph.bowtieFrom(graft.sources.GraphStage.wordEdges(s, dir))),
    // MMR diversified top-5: greedy rel − max-sim-to-selected selection
    // (k corpus scans, broadcast selected set, zero corpus shuffles)
    "emb_mmr_select" -> ((s, dir) =>
      operators.Similarity.mmrSelect(Tables.embeddings(s, dir))),
    // farthest-point sampling: greedy k-center coreset from seed 0
    "emb_fps_coreset" -> ((s, dir) =>
      operators.Similarity.fpsCoreset(Tables.embeddings(s, dir))),
    // MOSS winnowing: rightmost-min of each w-window of k-gram hashes —
    // density 2/(w+1) with the shared-run coverage guarantee
    "doc_winnow_fingerprint" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir), k = 4, w = 4)),
    // near-dup pairs over the winnowed (2.5x smaller) inverted index
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), k = 4, w = 4, minShared = 3)),
    // DeepWalk-style deterministic walk corpus: the sentences a
    // skip-gram graph-embedding model trains on, hash-driven so both
    // engines walk identical trajectories
    "word_walk_corpus" -> ((s, dir) =>
      Graph.walkCorpusFrom(graft.sources.GraphStage.wordEdges(s, dir), nWalks = 2, len = 3)),
    // Rényi-2 collision probability per doc (ppm): the integer-exact
    // character-diversity quality signal (Σ cnt² / tot²)
    "doc_char_collision" -> ((s, dir) =>
      TextAnalysis.charCollision(Tables.documents(s, dir))),
    // greedy bigram-LM decode from the 3 most frequent seeds
    "bigram_generate" -> ((s, dir) =>
      TextAnalysis.bigramGenerate(Tables.documents(s, dir), nSeeds = 3, steps = 6)),
    // rolling-origin EWMA forecast backtest: per-type MAE/bias x1000
    "events_backtest_ewma" -> ((s, dir) =>
      Relational.ewmaBacktest(Tables.events(s, dir))),
    // MDM survivorship: one golden record per fuzzy entity cluster
    // (clusters STAGED — shared with fuzzy_entity_clusters)
    "fuzzy_golden_record" -> ((s, dir) =>
      Dedup.goldenRecordFrom(Tables.customer(s, dir),
        graft.sources.DedupStage.fuzzyClusters(s, dir))),
    // cross-modal retrieval: text-tower embeddings vs the DECODED-pixel
    // image tower, integer dot product, top-3 per query
    "media_crossmodal_topk" -> ((s, dir) =>
      Multimodal.realCrossmodalTopk(s,
        graft.sources.MediaStage.mediaOfKind(s, dir, 0),
        Tables.embeddings(s, dir))),
    // RAKE keyphrases: stopword-free runs scored by deg/freq word stats
    "doc_rake_keyphrases" -> ((s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir))),
    // order-independent per-source content checksum (migration check)
    "table_checksum" -> ((s, dir) =>
      DataQuality.tableChecksum(Tables.documents(s, dir))),
    // nightly-batch winnow probe: new docs vs the base fingerprint
    // index only (base never re-paired)
    "dedup_winnow_increment" -> ((s, dir) =>
      Dedup.winnowIncrement(Tables.documents(s, dir), baseMaxId = 250L)),
    // ...and the same probe against the PERSISTED bucketed winnow
    // index (the cost-model winner at 0.39x shingle postings): base
    // winnowed once per (SparkContext, dir), probe join exchange-free on
    // the base side — equivalent by construction, shared oracle
    "dedup_increment_winnow" -> ((s, dir) =>
      graft.sources.DedupIndex.winnowIncrementReport(s, dir, baseMaxId = 250L)),
    // zone-map skipping A/B: date-clustered files vs arrival order
    // under the same 30-day predicate
    "lake_zone_map_skipping" -> ((s, dir) =>
      operators.Layout.zoneMapSkipping(Tables.lineitem(s, dir))),
    // deletion-vector lifecycle: merge-on-read bookkeeping + the
    // rewrite-vs-keep-DV compaction policy outcome, priced from data
    "lake_delete_vectors" -> ((s, dir) =>
      operators.Layout.deleteVectorStats(Tables.lineitem(s, dir))),
    // delta+varint postings accounting for the inverted index
    "index_compression_stats" -> ((s, dir) =>
      TextAnalysis.indexCompressionStats(Tables.documents(s, dir))),
    // FD / key-candidate profile over documents metadata
    "dq_fd_profile" -> ((s, dir) =>
      DataQuality.fdProfile(Tables.documents(s, dir),
        Seq("doc_id" -> "source", "source" -> "lang", "lang" -> "source"))),
    // candidate-generator evaluation: winnow recall vs jaccard truth —
    // the truth side probes the session-staged pair frame (r16: it IS
    // the same jaccardPairs(3,4,5) derivation, paid once per session;
    // dedup_minhash_eval keeps its truth live at its own threshold)
    "dedup_winnow_eval" -> ((s, dir) =>
      Dedup.winnowEvalFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir))),
    // index-choice cost model: Σ df(df-1)/2 per candidate index
    "dedup_cost_model" -> ((s, dir) =>
      Dedup.dedupCostModel(Tables.documents(s, dir))),
    // sketch-error eval: k-permutation minhash estimate vs exact
    // jaccard on the true near-dup pairs, in ppm
    "dedup_minhash_eval" -> ((s, dir) =>
      Dedup.minhashEval(Tables.documents(s, dir))),
    // cluster-level eval: pair-counting Rand index between the
    // exact-jaccard components and the winnow-index components,
    // sample-bounded (deterministic 50% doc hash-sample) because the
    // exact-Jaccard truth side is quadratic by contract
    // r16: the truth side filters the session-staged full pair frame to
    // sampled endpoints (pair Jaccard is independent of other docs, so
    // the filtered frame equals the sampled-corpus truth join exactly)
    "dedup_rand_index" -> ((s, dir) =>
      Dedup.randIndexEvalFrom(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir), samplePct = 50)),
    // measured Bloom false-positive rate: probes provably absent from
    // the base, so every positive is false — ground truth, not theory
    "dedup_bloom_fpr" -> ((s, dir) =>
      Dedup.bloomFprEval(Tables.documents(s, dir))),
    // k-anonymity generalization: smallest power-of-two balance bin
    // whose minimum equivalence class reaches k
    "pii_generalize" -> ((s, dir) =>
      Basket.kAnonymityGeneralize(Tables.customer(s, dir))),
    // the DeepWalk pipeline end to end: hash-driven walk corpus ->
    // skip-gram bigram PMI (the co-occurrence statistics a graph
    // embedding trains on)
    "walk_skipgram_pmi" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sentences = Graph.walkCorpus(Tables.documents(s, dir), 2, 3)
        .select(col("path").as("text"), lit(0L).as("doc_id"))
      TextAnalysis.bigramPmi(sentences, minCnt = 2, k = 25)
    }),
    // streaming ingest-integrity monitor: running per-source checksum,
    // order/batch-boundary independent (XOR state), equals the batch op
    "streaming_table_checksum" -> ((s, dir) =>
      graft.streaming.Streams.tableChecksumAvailableNow(s, dir)),
    // realtime near-dup: arriving docs probe the STATIC winnow index
    // (stream-static join, zero join state); equals the batch probe
    "streaming_winnow_increment" -> ((s, dir) =>
      graft.streaming.Streams.winnowIncrementAvailableNow(s, dir)),
    // 25th streaming gate: arriving vectors argmin-assign against the
    // persisted frozen centroids and APPEND to the bucketed postings
    // via foreachBatch — zero-state index ingest; the probed index
    // equals the batch increment (alias oracle)
    "streaming_ann_increment" -> ((s, dir) =>
      graft.streaming.Streams.annIncrementAvailableNow(s, dir)),
    // HyperLogLog distinct-shingle estimator (dedup-index capacity
    // metering): m=64 register table via the dual-engine md5 hash,
    // raw estimate beside the exact count
    "distinct_shingles_hll" -> ((s, dir) =>
      TextAnalysis.hllDistinct(Tables.documents(s, dir))),
    // ...and the same registers maintained as streaming max state
    // (m longs forever) — equals the batch summary driven to completion
    "streaming_hll_distinct" -> ((s, dir) =>
      graft.streaming.Streams.hllDistinctAvailableNow(s, dir)),
    // ...and the distributed-merge form: per-source registers merged
    // by elementwise max — must equal the single-pass summary
    "hll_merge_by_source" -> ((s, dir) =>
      TextAnalysis.hllDistinctMerged(Tables.documents(s, dir))),
    // hashed-linear quality-classifier inference (fastText shape):
    // zero-shuffle per-doc dot product over hashed bigram features
    "doc_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(Tables.documents(s, dir))),
    // CMS inner-product join-size estimate beside the exact sum c^2
    "join_card_estimate" -> ((s, dir) =>
      DataQuality.joinCardEstimate(Tables.lineitem(s, dir))),
    // calibration bins of the classifier score vs the lang label
    "doc_classifier_calibration" -> ((s, dir) =>
      TextAnalysis.classifierCalibration(Tables.documents(s, dir))),
    // IN-ENGINE training: 3 integer batch-perceptron rounds over the
    // hashed bigram features, label = (lang = 'en'); output = weights,
    // registered once per (SparkContext, dir) — the model-registry shape
    "doc_classifier_train" -> ((s, dir) =>
      TextAnalysis.classifierTrainCached(s, dir)),
    // inference with the LEARNED (registered) weights
    "doc_classifier_trained_score" -> ((s, dir) =>
      TextAnalysis.classifierTrainedScore(Tables.documents(s, dir),
        weights = Some(TextAnalysis.classifierTrainCached(s, dir)))),
    // held-out eval: train on the first 80% of doc_ids, score the
    // rest — confusion counts + accuracy/precision/recall ppm,
    // registered once per session next to the model weights
    "doc_classifier_eval" -> ((s, dir) =>
      TextAnalysis.classifierEvalCached(s, dir)),
    // streaming model serving (24th gate): registered weights as a
    // map literal in a stateless per-row fold — zero-shuffle scoring
    "streaming_classifier_score" -> ((s, dir) =>
      graft.streaming.Streams.classifierServeAvailableNow(s, dir)),
    // conversion-window funnel: every step within 6h of the view
    "events_window_funnel" -> ((s, dir) =>
      Relational.windowFunnel(Tables.events(s, dir))),
    // variadic funnel, 4 steps: one greedy join+min round per step
    "events_window_funnel_4" -> ((s, dir) =>
      Relational.windowFunnelN(Tables.events(s, dir),
        Seq("view", "click", "signup", "purchase"))),
    // Theil-Sen robust daily trend: doubled median of pairwise slopes
    "events_theilsen_trend" -> ((s, dir) =>
      Relational.theilSenTrend(Tables.events(s, dir))),
    // robust daily-volume anomaly flags: dev > 3 MAD, all-integer
    "events_mad_outliers" -> ((s, dir) =>
      Relational.madOutliers(Tables.events(s, dir))),
    // CUSUM changepoint: day maximizing |cumulative mean deviation|
    "events_cusum_changepoint" -> ((s, dir) =>
      Relational.cusumChangepoint(Tables.events(s, dir))),
    // conversion-latency distribution of the funnel's greedy chains
    "events_funnel_latency" -> ((s, dir) =>
      Relational.funnelLatency(Tables.events(s, dir))),
    // leave-last-event-out eval of the Markov next-type predictor
    "events_markov_eval" -> ((s, dir) =>
      Relational.markovEval(Tables.events(s, dir))),
    // GDPR purge cascade accounting + post-purge FK integrity proofs
    "pii_purge_cascade" -> ((s, dir) =>
      operators.Basket.purgeCascade(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // 22nd streaming gate: the IVM rollup maintained per micro-batch
    // via foreachBatch merge; equals the batch op driven to completion
    "streaming_ivm_agg" -> ((s, dir) =>
      graft.streaming.Streams.ivmAggAvailableNow(s, dir)),
    // incremental view maintenance: patch the pricing rollup with a
    // signed CDC delta; oracle recomputes from scratch
    "ivm_agg_delta" -> ((s, dir) =>
      Relational.ivmAggDelta(Tables.lineitem(s, dir))),
    // ER blocking quality: reduction ratio + pairs completeness of the
    // SymSpell deletion-variant blocks vs the banded-lev truth,
    // sample-bounded (deterministic 50% customer hash-sample) because
    // the banded-lev truth join is quadratic by contract
    "fuzzy_blocking_eval" -> ((s, dir) =>
      Dedup.blockingEval(Tables.customer(s, dir), samplePct = 50)),
    // Kaplan-Meier life table for time-to-repurchase (right-censored)
    "customer_survival_table" -> ((s, dir) =>
      Relational.survivalTable(Tables.orders(s, dir))),
    // depth-3 sequential patterns: distinct-user subsequence support
    "events_seq_patterns3" -> ((s, dir) =>
      operators.Basket.seqPatterns3(Tables.events(s, dir))),
    // bitmap secondary-index utility: row groups touched per flag,
    // current layout vs flag-clustered layout
    "lake_bitmap_index" -> ((s, dir) =>
      Layout.bitmapIndexStats(Tables.lineitem(s, dir))),
    // per-file NDV manifest statistics: exact vs HLL register estimate
    "lake_file_ndv" -> ((s, dir) =>
      Layout.fileNdvStats(Tables.lineitem(s, dir))),
    // header-vs-lines financial reconciliation buckets
    "orders_reconciliation" -> ((s, dir) =>
      Relational.ordersReconciliation(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // Catalyst rewrite: COUNT(DISTINCT word) through the KMV sketch
    // aggregate (k=4096 > vocab -> exact; plan shape spec-audited)
    "distinct_words_rewrite" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.plans.SketchDistinctRewrite.rewrite(
        WordCount.explodeWords(Tables.documents(s, dir), "text", Seq("source"))
          .groupBy("source")
          .agg(countDistinct(col("word")).as("n_distinct"))
          .orderBy("source"))
    }),
  )

  /** Dictionary for [[operators.TextAnalysis.keywordTag]] — shared
    * verbatim with the oracle SQL.
    */
  val TagKeywords: Seq[String] =
    Seq("spark", "merge", "query", "vector", "window")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every declared query has one (round 2
    * closed the two round-1 gaps: `dedup_simhash` now uses a
    * dual-engine md5-prefix token hash, and `media_feature_stats`
    * aggregates header-byte decode fields a SQL oracle can mirror).
    */
  def oracleSql: Map[String, String] = {
    // salted / refined window variants are oracle-EQUIVALENT to their
    // unsalted siblings by construction — alias the SQL instead of
    // duplicating it (the wordcount_salted pattern, made systematic)
    val aliases = Map(
      "doc_mixture_sample_salted" -> "doc_mixture_sample",
      "doc_shard_assign_refined" -> "doc_shard_assign",
      "dedup_increment_indexed" -> "dedup_increment",
      // the persisted winnow index is a materialization of the same
      // fingerprint relation the recompute probe derives
      "dedup_increment_winnow" -> "dedup_winnow_increment",
      // prefix filtering is LOSSLESS — the oracle is the brute join
      "dedup_prefix_filter" -> "dedup_ngram_jaccard",
      // driven to completion, the streaming sketch equals the batch one
      "streaming_quantiles_sketch" -> "events_value_quantiles_sketch",
      // ordered per-key replay of the CDC reset equals the batch window
      "streaming_since_last_error" -> "events_since_last_error",
      // the V2 connector reads the same staged lines
      "textdir_v2_wordcount" -> "wordcount",
      // XML roundtrip: entity escaping can't change the token multiset
      "xml_wordcount" -> "wordcount",
      // XOR state is arrival-order independent; driven to completion
      // the stream equals the batch checksum
      "streaming_table_checksum" -> "table_checksum",
      // stream-static probe driven to completion = the batch increment
      "streaming_winnow_increment" -> "dedup_winnow_increment",
      // register maxes are arrival-order independent; driven to
      // completion the streamed HLL equals the batch summary
      "streaming_hll_distinct" -> "distinct_shingles_hll",
      // register merge is associative/commutative max — the per-source
      // merged summary equals the single-pass one by construction
      "hll_merge_by_source" -> "distinct_shingles_hll",
      // signed sums are associative: the foreachBatch-maintained view
      // driven to completion equals the batch IVM output
      "streaming_ivm_agg" -> "ivm_agg_delta",
      // greedy chain state over time-ordered batches replays the
      // batch funnel exactly (earliest-next-step is exact, and the
      // time split preserves per-user event order across batches)
      "streaming_window_funnel" -> "events_window_funnel",
      // stateless per-row scoring: the map-literal fold computes the
      // same sum-of-occurrence-weights the batch feature join does
      "streaming_classifier_score" -> "doc_classifier_trained_score",
      // the rebuild retrains over ALL stored vectors with the same
      // deterministic seeds — the rebuilt index IS the full-corpus-
      // trained IVF the disk gate's unrolled-Lloyd oracle describes
      "ann_ivf_rebuild" -> "ann_ivf_disk",
      // postings are a set and the streamed delta assignment uses the
      // same frozen centroids — driven to completion, the streamed
      // index equals the batch increment
      "streaming_ann_increment" -> "ann_ivf_increment")
    // corpus_build_v3 = the v2 oracle over the extraction's PROVEN
    // clean form (planted constants + text — the equivalence the
    // doc_html_extract_wordcount gate pins): the shared builder reads
    // from a `docsx` CTE instead of the documents table (ADVICE r12:
    // no more stripPrefix/regex surgery on the finished v2 string)
    val v3Sql = {
      val body = sqlCorpusBuildV2("docsx")
      require(body.startsWith("WITH "),
        "sqlCorpusBuildV2 must open with its CTE chain")
      "WITH docsx AS (SELECT doc_id, 'doc & meta heading <' || " +
        "CAST(doc_id AS VARCHAR) || '> ' || text AS text, lang, " +
        "source, n_chars FROM documents),\n" +
        body.stripPrefix("WITH ")
    }
    oracleSqlBase ++ aliases.map { case (k, v) => k -> oracleSqlBase(v) } +
      ("corpus_build_v3" -> v3Sql)
  }

  /** The dual-engine md5-prefix 60-bit hash of a column, DuckDB
    * spelling (nibble sum — DuckDB has no conv()); mirrors Spark's
    * `cast(conv(substr(md5(x), 1, 15), 16, 10) AS bigint)`.
    */
  private def sqlMd5Big(x: String): String =
    s"CAST(list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef', " +
      s"substr(md5($x), nb+1, 1)) - 1)::BIGINT << (4*(14-nb)))) AS BIGINT)"

  /** DuckDB CTE chain `t, f, y, w0, m1, e1, g1, w1, …, w<rounds>`
    * mirroring [[operators.TextAnalysis.classifierTrain]] — `rounds`
    * unrolled integer batch-perceptron updates over the hashed bigram
    * count features (all BIGINT, truncation-free: sums and ±1 errors
    * only, so the weight trajectory is engine-exact).
    *
    * `trainPred` (e.g. "doc_id < (SELECT v FROM cutd)") restricts the
    * TRAINING population — every margin/error/gradient round — while
    * `f`/`y` stay corpus-wide so a caller's scoring CTE can span any
    * split: the held-out-eval contract (`doc_classifier_eval`).
    */
  private def sqlPerceptronCtes(slots: Int, rounds: Int,
                                trainPred: String = ""): String = {
    val (fTr, yTr) = if (trainPred.isEmpty) ("f", "y") else ("ftr", "ytr")
    val base =
      s"""t AS (SELECT doc_id, $SqlWs AS ws FROM documents),
         |f AS (SELECT doc_id, ${sqlMd5Big("g")} % $slots AS slot,
         |        count(*)::BIGINT AS cnt
         |      FROM (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 1),
         |              i -> array_to_string(list_slice(ws, i + 1, i + 2), ' '))) AS g
         |            FROM t WHERE len(ws) >= 2)
         |      GROUP BY 1, 2),
         |y AS (SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
         |      FROM documents),""".stripMargin +
        (if (trainPred.isEmpty) ""
         else s"""
         |ftr AS (SELECT * FROM f WHERE $trainPred),
         |ytr AS (SELECT * FROM y WHERE $trainPred),""".stripMargin) +
      s"""
         |w0 AS (SELECT unnest(range(0, $slots)) AS slot, 0::BIGINT AS w)""".stripMargin
    val iterCtes = (1 to rounds).map { i =>
      s"""m$i AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS m
         |  FROM $fTr f JOIN w${i - 1} w USING (slot) GROUP BY 1),
         |e$i AS (SELECT y.doc_id,
         |    y.y - (CASE WHEN COALESCE(m$i.m, 0) > 0 THEN 1 ELSE 0 END) AS err
         |  FROM $yTr y LEFT JOIN m$i USING (doc_id)
         |  WHERE y.y - (CASE WHEN COALESCE(m$i.m, 0) > 0 THEN 1 ELSE 0 END) != 0),
         |g$i AS (SELECT slot, CAST(sum(cnt * err) AS BIGINT) AS g
         |  FROM $fTr f JOIN e$i USING (doc_id) GROUP BY 1),
         |w$i AS (SELECT w.slot, w.w + COALESCE(g.g, 0) AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (slot))""".stripMargin
    }
    (base +: iterCtes).mkString("WITH ", ",\n", "")
  }

  private lazy val oracleSqlBase: Map[String, String] =
    oracleSqlBaseA ++ oracleSqlBaseB

  // first half of the oracle registry (split around the
  // sqlCorpusBuildV2 builder definition, which both the v2 and v3
  // gates share)
  private lazy val oracleSqlBaseA: Map[String, String] = Map(
    "distinct_shingles_hll" -> {
      val c = operators.TextAnalysis.hllAlphaNum(64).toString
      s"""WITH w AS (SELECT DISTINCT shingle FROM (${sqlShingles(3, distinct = false)})),
         |hh AS (SELECT ${sqlMd5Big("shingle")} AS h FROM w),
         |r AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM hh),
         |regs AS (SELECT bucket,
         |    max(CASE WHEN rest = 0 THEN 55 ELSE 55 - length(bin(rest)) END) AS max_rho
         |  FROM r GROUP BY 1),
         |s AS (SELECT count(*) AS n_buckets,
         |    CAST(sum(1::BIGINT << (55 - max_rho)) AS BIGINT)
         |      + (64 - count(*)) * (1::BIGINT << 55) AS s_scaled
         |  FROM regs),
         |e AS (SELECT count(DISTINCT shingle) AS n_exact
         |  FROM (${sqlShingles(3, distinct = false)}))
         |SELECT n_buckets, s_scaled,
         |  CAST(floor($c / CAST(s_scaled AS DOUBLE)) AS BIGINT) AS est_distinct,
         |  n_exact,
         |  (abs(CAST(floor($c / CAST(s_scaled AS DOUBLE)) AS BIGINT) - n_exact)
         |    * 1000000) // n_exact AS err_ppm
         |FROM s, e""".stripMargin
    },
    "doc_classifier_score" ->
      s"""SELECT doc_id,
         |  CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_feats,
         |  CAST(CASE WHEN len(ws) < 2 THEN 0
         |    ELSE list_sum(list_transform(range(0, len(ws) - 1),
         |      i -> ${sqlMd5Big("array_to_string(list_slice(ws, i + 1, i + 2), ' ')")}
         |        % 4096 * 2654435761 % 2001 - 1000)) END AS BIGINT) AS logit_micro,
         |  CAST(CASE WHEN len(ws) < 2 THEN 0
         |    ELSE list_sum(list_transform(range(0, len(ws) - 1),
         |      i -> ${sqlMd5Big("array_to_string(list_slice(ws, i + 1, i + 2), ' ')")}
         |        % 4096 * 2654435761 % 2001 - 1000)) END AS BIGINT) > 0 AS accept
         |FROM (SELECT doc_id, $SqlWs AS ws FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "doc_classifier_train" ->
      s"""${sqlPerceptronCtes(256, 3)}
         |SELECT slot, CAST(w AS BIGINT) AS w FROM w3 ORDER BY slot""".stripMargin,
    "doc_classifier_trained_score" ->
      s"""${sqlPerceptronCtes(256, 3)},
         |sc AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS logit
         |       FROM f JOIN w3 w USING (slot) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(sc.logit, 0) AS logit,
         |  COALESCE(sc.logit, 0) > 0 AS accept,
         |  CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS is_en,
         |  (COALESCE(sc.logit, 0) > 0) = (d.lang = 'en') AS correct
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // held-out eval: perceptron trained on the first 80% of doc_ids
    // only, scored over the rest; featureless docs score 0 via the
    // left join (pred = reject), same as the Spark side's coalesce
    "doc_classifier_eval" ->
      s"""${sqlPerceptronCtes(256, 3,
             trainPred = "doc_id < (SELECT v FROM cutd)")
           .replace("WITH t AS",
             "WITH cutd AS (SELECT ((max(doc_id) + 1) * 4) // 5 AS v FROM documents),\nt AS")},
         |sc AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS logit
         |       FROM f JOIN w3 w USING (slot)
         |       WHERE f.doc_id >= (SELECT v FROM cutd) GROUP BY 1),
         |tt AS (SELECT d.doc_id, COALESCE(sc.logit, 0) > 0 AS accept,
         |         d.lang = 'en' AS pos
         |       FROM documents d LEFT JOIN sc USING (doc_id)
         |       WHERE d.doc_id >= (SELECT v FROM cutd)),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |        CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos,
         |        CAST(count(*) FILTER (accept AND pos) AS BIGINT) AS tp,
         |        CAST(count(*) FILTER (accept AND NOT pos) AS BIGINT) AS fp,
         |        CAST(count(*) FILTER (NOT accept AND pos) AS BIGINT) AS fn
         |      FROM tt)
         |SELECT n_test, n_pos, tp, fp, fn,
         |  CAST((n_test - fp - fn) * 1000000 // n_test AS BIGINT) AS accuracy_ppm,
         |  CAST(tp * 1000000 // greatest(tp + fp, 1) AS BIGINT) AS precision_ppm,
         |  CAST(tp * 1000000 // greatest(tp + fn, 1) AS BIGINT) AS recall_ppm
         |FROM s""".stripMargin,
    "doc_classifier_calibration" ->
      s"""WITH sc AS (SELECT lang,
         |  CAST(CASE WHEN len(ws) < 2 THEN 0
         |    ELSE list_sum(list_transform(range(0, len(ws) - 1),
         |      i -> ${sqlMd5Big("array_to_string(list_slice(ws, i + 1, i + 2), ' ')")}
         |        % 4096 * 2654435761 % 2001 - 1000)) END AS BIGINT) AS logit_micro
         |  FROM (SELECT lang, $SqlWs AS ws FROM documents))
         |SELECT logit_micro // 2000 AS bin, count(*) AS n_docs,
         |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
         |  (count(*) FILTER (WHERE lang = 'en') * 1000000) // count(*) AS en_ppm
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_window_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
         |v AS (SELECT user_id, t AS vt FROM e WHERE event_type = 'view'),
         |s1 AS (SELECT v.user_id, v.vt, min(s.t) AS st
         |  FROM v JOIN e s ON s.user_id = v.user_id AND s.event_type = 'signup'
         |    AND s.t > v.vt AND s.t <= v.vt + 21600000
         |  GROUP BY 1, 2),
         |p1 AS (SELECT s1.user_id, s1.vt, min(p.t) AS pt
         |  FROM s1 JOIN e p ON p.user_id = s1.user_id AND p.event_type = 'purchase'
         |    AND p.t > s1.st AND p.t <= s1.vt + 21600000
         |  GROUP BY 1, 2)
         |SELECT n_view_users, n_step2, n_step3,
         |  (n_step2 * 1000000) // n_view_users AS step2_ppm,
         |  (n_step3 * 1000000) // n_view_users AS step3_ppm
         |FROM (SELECT count(DISTINCT user_id) AS n_view_users FROM v),
         |     (SELECT count(DISTINCT user_id) AS n_step2 FROM s1),
         |     (SELECT count(DISTINCT user_id) AS n_step3 FROM p1)""".stripMargin,
    // the 4-step funnel unrolled: each CTE is one greedy join+min
    // round; same window anchor (the chain-starting view) as 3-step
    "events_window_funnel_4" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
         |v AS (SELECT user_id, t AS vt FROM e WHERE event_type = 'view'),
         |c2 AS (SELECT v.user_id, v.vt, min(x.t) AS t
         |  FROM v JOIN e x ON x.user_id = v.user_id AND x.event_type = 'click'
         |    AND x.t > v.vt AND x.t <= v.vt + 21600000
         |  GROUP BY 1, 2),
         |c3 AS (SELECT c2.user_id, c2.vt, min(x.t) AS t
         |  FROM c2 JOIN e x ON x.user_id = c2.user_id AND x.event_type = 'signup'
         |    AND x.t > c2.t AND x.t <= c2.vt + 21600000
         |  GROUP BY 1, 2),
         |c4 AS (SELECT c3.user_id, c3.vt, min(x.t) AS t
         |  FROM c3 JOIN e x ON x.user_id = c3.user_id AND x.event_type = 'purchase'
         |    AND x.t > c3.t AND x.t <= c3.vt + 21600000
         |  GROUP BY 1, 2)
         |SELECT n_step1, n_step2, n_step3, n_step4,
         |  (n_step2 * 1000000) // n_step1 AS step2_ppm,
         |  (n_step3 * 1000000) // n_step1 AS step3_ppm,
         |  (n_step4 * 1000000) // n_step1 AS step4_ppm
         |FROM (SELECT count(DISTINCT user_id) AS n_step1 FROM v),
         |     (SELECT count(DISTINCT user_id) AS n_step2 FROM c2),
         |     (SELECT count(DISTINCT user_id) AS n_step3 FROM c3),
         |     (SELECT count(DISTINCT user_id) AS n_step4 FROM c4)""".stripMargin,
    "events_mad_outliers" ->
      s"""WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
         |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, CAST(quantile_cont(n, 0.5) * 2 AS BIGINT)
         |        AS med2 FROM d GROUP BY 1),
         |dev AS (SELECT d.event_type, epoch_day, n, abs(2 * n - med2) AS dev2
         |        FROM d JOIN m USING (event_type)),
         |md AS (SELECT event_type, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT)
         |        AS mad4 FROM dev GROUP BY 1)
         |SELECT dev.event_type, epoch_day, n, dev2, mad4
         |FROM dev JOIN md USING (event_type)
         |WHERE 2 * dev2 > 3 * mad4
         |ORDER BY event_type, epoch_day""".stripMargin,
    "events_cusum_changepoint" ->
      s"""WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
         |    count(*)::BIGINT AS n FROM events GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS nd, CAST(sum(n) AS BIGINT) AS tot
         |      FROM d),
         |s AS (SELECT day,
         |    abs(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) * nd
         |        - row_number() OVER (ORDER BY day) * tot) AS abs_s, nd
         |  FROM d, t)
         |SELECT nd AS n_days, day AS cp_day, CAST(abs_s AS BIGINT) AS max_abs_s
         |FROM s ORDER BY abs_s DESC, day LIMIT 1""".stripMargin,
    // the funnel chain CTEs replayed, then the per-user fastest
    // completed chain's latency summarized
    "events_funnel_latency" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
         |v AS (SELECT user_id, t AS vt FROM e WHERE event_type = 'view'),
         |s1 AS (SELECT v.user_id, v.vt, min(s.t) AS st
         |  FROM v JOIN e s ON s.user_id = v.user_id AND s.event_type = 'signup'
         |    AND s.t > v.vt AND s.t <= v.vt + 21600000
         |  GROUP BY 1, 2),
         |p1 AS (SELECT s1.user_id, s1.vt, min(p.t) AS pt
         |  FROM s1 JOIN e p ON p.user_id = s1.user_id AND p.event_type = 'purchase'
         |    AND p.t > s1.st AND p.t <= s1.vt + 21600000
         |  GROUP BY 1, 2),
         |lat AS (SELECT user_id, min(pt - vt) AS lat_ms FROM p1 GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_converted,
         |  CAST(min(lat_ms) AS BIGINT) AS min_ms,
         |  CAST(quantile_cont(lat_ms, 0.5) * 2 AS BIGINT) AS med2_ms,
         |  CAST(max(lat_ms) AS BIGINT) AS max_ms
         |FROM lat""".stripMargin,
    "events_theilsen_trend" ->
      s"""WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS n
         |  FROM events GROUP BY 1),
         |s AS (SELECT (b.n - a.n) * 1000000 // (b.d - a.d) AS slope_micro
         |  FROM daily a JOIN daily b ON b.d > a.d)
         |SELECT (SELECT count(*) FROM daily) AS n_days, count(*) AS n_pairs,
         |  CAST(round(quantile_cont(slope_micro, 0.5) * 2) AS BIGINT)
         |    AS slope_med2_micro
         |FROM s""".stripMargin,
    "events_markov_eval" ->
      s"""WITH p AS (SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS k,
         |    count(*) OVER (PARTITION BY user_id) AS last_k
         |  FROM events),
         |p2 AS (SELECT * FROM p WHERE last_k >= 2),
         |pr AS (SELECT a.user_id, a.event_type AS prev, b.event_type AS next,
         |    b.k, b.last_k
         |  FROM p2 a JOIN p2 b ON a.user_id = b.user_id AND b.k = a.k + 1),
         |train AS (SELECT prev, next, count(*) AS cnt FROM pr
         |  WHERE k < last_k GROUP BY 1, 2),
         |pred AS (SELECT prev, next AS predicted FROM (
         |  SELECT prev, next, row_number() OVER (PARTITION BY prev
         |    ORDER BY cnt DESC, next) AS rk FROM train) WHERE rk = 1),
         |gt AS (SELECT next AS base_pred FROM (
         |  SELECT next, sum(cnt) AS c FROM train GROUP BY 1
         |  ORDER BY c DESC, next LIMIT 1)),
         |test AS (SELECT user_id, prev, next AS actual FROM pr
         |  WHERE k = last_k)
         |SELECT count(*) AS n_users,
         |  CAST(count(*) FILTER (WHERE predicted = actual) AS BIGINT) AS n_hits,
         |  CAST(count(*) FILTER (WHERE base_pred = actual) AS BIGINT)
         |    AS n_base_hits,
         |  (count(*) FILTER (WHERE predicted = actual) * 1000000) // count(*)
         |    AS hit_ppm,
         |  (count(*) FILTER (WHERE base_pred = actual) * 1000000) // count(*)
         |    AS base_ppm
         |FROM test LEFT JOIN pred USING (prev), gt""".stripMargin,
    "pii_purge_cascade" ->
      s"""WITH pc AS (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
         |po AS (SELECT o_orderkey FROM orders
         |  WHERE o_custkey IN (SELECT c_custkey FROM pc)),
         |kc AS (SELECT c_custkey FROM customer
         |  WHERE c_custkey NOT IN (SELECT c_custkey FROM pc)),
         |ko AS (SELECT o_orderkey, o_custkey FROM orders
         |  WHERE o_custkey NOT IN (SELECT c_custkey FROM pc)),
         |kl AS (SELECT l_orderkey FROM lineitem
         |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))
         |SELECT
         |  (SELECT count(*) FROM pc) AS n_cust_purged,
         |  (SELECT count(*) FROM po) AS n_orders_purged,
         |  (SELECT count(*) FROM lineitem
         |    WHERE l_orderkey IN (SELECT o_orderkey FROM po)) AS n_lineitems_purged,
         |  (SELECT count(*) FROM kc) AS n_cust_kept,
         |  (SELECT count(*) FROM ko
         |    WHERE o_custkey NOT IN (SELECT c_custkey FROM kc)) AS orphan_orders,
         |  (SELECT count(*) FROM kl
         |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ko)) AS orphan_lineitems""".stripMargin,
    "join_card_estimate" ->
      s"""WITH b AS (SELECT i,
         |    ${sqlMd5Big("CAST(i AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)")} % 65536 AS bucket
         |  FROM lineitem, LATERAL (SELECT unnest(range(4)) AS i) r),
         |c AS (SELECT i, bucket, count(*) AS c FROM b GROUP BY 1, 2),
         |e AS (SELECT CAST(min(est) AS BIGINT) AS est_pairs FROM (
         |  SELECT i, sum(c * c) AS est FROM c GROUP BY 1)),
         |x AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_pairs FROM (
         |  SELECT count(*) AS c FROM lineitem GROUP BY l_partkey))
         |SELECT exact_pairs, est_pairs,
         |  ((est_pairs - exact_pairs) * 1000000) // exact_pairs AS overest_ppm,
         |  4::BIGINT AS d, 65536::BIGINT AS w
         |FROM x, e""".stripMargin,
    "ivm_agg_delta" ->
      s"""WITH li AS (SELECT l_orderkey, l_returnflag,
         |    CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
         |  FROM lineitem),
         |upd AS (SELECT l_returnflag, qty, price_c FROM li WHERE l_orderkey % 97 <> 0
         |        UNION ALL
         |        SELECT l_returnflag, qty + 3, price_c + 500 FROM li WHERE l_orderkey % 101 = 0)
         |SELECT l_returnflag, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
         |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin,
    // eval over the deterministic 50% customer hash-sample (the
    // quadratic banded-lev truth join is the eval-only cost this bounds)
    "fuzzy_blocking_eval" ->
      s"""WITH c AS (SELECT c_custkey, c_name, c_nationkey AS nk FROM customer
         |  WHERE ${sqlMd5Big("CAST(c_custkey AS VARCHAR)")} % 100 < 50),
         |truth AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM c a JOIN c b ON a.nk = b.nk AND a.c_custkey < b.c_custkey
         |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
         |v AS (SELECT c_custkey, nk,
         |    unnest(list_distinct(list_prepend(c_name,
         |      list_transform(range(0, length(c_name)),
         |        i -> substr(c_name, 1, i) || substr(c_name, i + 2))))) AS v
         |  FROM c),
         |cand AS (SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
         |  FROM v a JOIN v b ON a.nk = b.nk AND a.v = b.v
         |    AND a.c_custkey < b.c_custkey),
         |np AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_all_pairs
         |  FROM (SELECT count(*) AS n FROM c GROUP BY nk)),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |nc AS (SELECT count(*) AS n_cand FROM cand),
         |nh AS (SELECT count(*) AS n_hit FROM cand JOIN truth USING (id_a, id_b))
         |SELECT n_all_pairs, n_truth, n_cand, n_hit,
         |  (n_hit * 1000000) // n_truth AS completeness_ppm,
         |  ((n_all_pairs - n_cand) * 1000000) // n_all_pairs AS reduction_ppm
         |FROM np, nt, nc, nh""".stripMargin,
    "customer_survival_table" ->
      s"""WITH r AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate, o_orderkey) AS rn
         |  FROM orders),
         |f AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN d END) AS d0,
         |    min(CASE WHEN rn = 2 THEN d END) AS d1
         |  FROM r WHERE rn <= 2 GROUP BY 1),
         |mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
         |subj AS (SELECT CASE WHEN d1 IS NOT NULL THEN date_diff('day', d0, d1)
         |      ELSE date_diff('day', d0, dmax) END // 28 AS t_bucket,
         |    CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM f, mx),
         |g AS (SELECT t_bucket, CAST(sum(ev) AS BIGINT) AS n_events,
         |    CAST(sum(1 - ev) AS BIGINT) AS n_censored FROM subj GROUP BY 1),
         |k AS (SELECT t_bucket, n_events, n_censored,
         |    CAST(sum(n_events + n_censored) OVER (ORDER BY t_bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
         |  FROM g)
         |SELECT t_bucket, n_risk, n_events, n_censored,
         |  (n_events * 1000000) // n_risk AS hazard_ppm
         |FROM k ORDER BY t_bucket""".stripMargin,
    "events_seq_patterns3" ->
      s"""WITH p AS (SELECT user_id, event_type,
         |    CAST(row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS p
         |  FROM events),
         |pa AS (SELECT user_id, event_type AS t1, min(p) AS pa FROM p GROUP BY 1, 2),
         |pb AS (SELECT pa.user_id, pa.t1, p.event_type AS t2, min(p.p) AS pb
         |  FROM pa JOIN p ON p.user_id = pa.user_id AND p.p > pa.pa
         |  GROUP BY 1, 2, 3),
         |hit AS (SELECT DISTINCT pb.user_id, pb.t1, pb.t2, p.event_type AS t3
         |  FROM pb JOIN p ON p.user_id = pb.user_id AND p.p > pb.pb)
         |SELECT t1, t2, t3, count(*) AS n_users FROM hit GROUP BY 1, 2, 3
         |ORDER BY n_users DESC, t1, t2, t3""".stripMargin,
    "lake_file_ndv" -> {
      val c = operators.TextAnalysis.hllAlphaNum(64).toString
      s"""WITH r AS (SELECT l_orderkey // 512 AS file,
         |    ${sqlMd5Big("CAST(l_partkey AS VARCHAR)")} AS h, l_partkey
         |  FROM lineitem),
         |rg AS (SELECT file, h % 64 AS bucket,
         |    max(CASE WHEN h // 64 = 0 THEN 55
         |        ELSE 55 - length(bin(h // 64)) END) AS max_rho
         |  FROM r GROUP BY 1, 2),
         |s AS (SELECT file, CAST(sum(1::BIGINT << (55 - max_rho)) AS BIGINT)
         |    + (64 - count(*)) * (1::BIGINT << 55) AS s_scaled
         |  FROM rg GROUP BY 1),
         |e AS (SELECT file, count(*) AS n_rows,
         |    count(DISTINCT l_partkey) AS ndv_exact FROM r GROUP BY 1)
         |SELECT e.file, e.n_rows, e.ndv_exact,
         |  CAST(floor($c / CAST(s_scaled AS DOUBLE)) AS BIGINT) AS ndv_est,
         |  (abs(CAST(floor($c / CAST(s_scaled AS DOUBLE)) AS BIGINT) - ndv_exact)
         |    * 1000000) // ndv_exact AS err_ppm
         |FROM e JOIN s USING (file) ORDER BY file""".stripMargin
    },
    "orders_reconciliation" ->
      s"""WITH lines AS (SELECT l_orderkey,
         |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
         |      * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS charge_c
         |  FROM lineitem GROUP BY 1),
         |j AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS total_c,
         |    charge_c,
         |    CASE WHEN charge_c IS NULL THEN NULL
         |         ELSE abs((charge_c - total_c) * 1000000 // total_c)
         |    END AS drift_ppm
         |  FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey)
         |SELECT count(*) AS n_orders,
         |  CAST(count(*) FILTER (WHERE charge_c IS NULL) AS BIGINT) AS n_no_lines,
         |  CAST(count(*) FILTER (WHERE drift_ppm = 0) AS BIGINT) AS n_exact,
         |  CAST(count(*) FILTER (WHERE drift_ppm > 0 AND drift_ppm <= 10000)
         |    AS BIGINT) AS n_within_1pct,
         |  CAST(count(*) FILTER (WHERE drift_ppm > 10000 AND drift_ppm <= 100000)
         |    AS BIGINT) AS n_within_10pct,
         |  CAST(count(*) FILTER (WHERE drift_ppm > 100000) AS BIGINT) AS n_beyond,
         |  max(drift_ppm) AS max_drift_ppm
         |FROM j""".stripMargin,
    "lake_bitmap_index" ->
      s"""WITH r AS (SELECT l_returnflag, l_orderkey // 32 AS grp,
         |    CAST(l_orderkey % 32 AS INT) AS slot FROM lineitem),
         |bm AS (SELECT l_returnflag, grp, bit_or(1::BIGINT << slot) AS mask
         |  FROM r GROUP BY 1, 2),
         |ro AS (SELECT l_returnflag, count(*) AS n_groups_roworder,
         |    CAST(sum(bit_count(mask)) AS BIGINT) AS n_slots_set
         |  FROM bm GROUP BY 1),
         |t AS (SELECT count(DISTINCT grp) AS n_total_groups,
         |    count(*) AS n_total_rows FROM r),
         |bf AS (SELECT l_returnflag, count(*) AS n_rows FROM lineitem GROUP BY 1),
         |srt AS (SELECT l_returnflag, n_rows,
         |    coalesce(CAST(sum(n_rows) OVER (ORDER BY l_returnflag
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS row_start
         |  FROM bf)
         |SELECT ro.l_returnflag, srt.n_rows, ro.n_slots_set, ro.n_groups_roworder,
         |  (ro.n_groups_roworder * 1000000) // t.n_total_groups AS sel_roworder_ppm,
         |  (srt.row_start + srt.n_rows - 1) // 32 - srt.row_start // 32 + 1
         |    AS n_groups_sorted,
         |  (((srt.row_start + srt.n_rows - 1) // 32 - srt.row_start // 32 + 1)
         |    * 1000000) // ((t.n_total_rows - 1) // 32 + 1) AS sel_sorted_ppm
         |FROM ro JOIN srt USING (l_returnflag), t
         |ORDER BY l_returnflag""".stripMargin,
    "word_bowtie" ->
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // unrolled greedy MMR (k = 5): each step's argmax of
    // rel − max-sim-to-selected, ties by vec_id — mirrors
    // Similarity.mmrSelect step for step
    "emb_mmr_select" ->
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
        |SELECT * FROM (SELECT 1::BIGINT AS sel_rank, vec_id FROM s1 UNION ALL SELECT 2::BIGINT AS sel_rank, vec_id FROM s2 UNION ALL SELECT 3::BIGINT AS sel_rank, vec_id FROM s3 UNION ALL SELECT 4::BIGINT AS sel_rank, vec_id FROM s4 UNION ALL SELECT 5::BIGINT AS sel_rank, vec_id FROM s5) ORDER BY sel_rank""".stripMargin,
    // unrolled farthest-point sampling (k = 5, seed vec 0): argmax of
    // min squared L2 to the selected set; distance spelled
    // (a2+b2)-2ab exactly as Similarity.fpsCoreset
    "emb_fps_coreset" ->
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
        |SELECT * FROM (SELECT 1::BIGINT AS sel_rank, vec_id FROM s1 UNION ALL SELECT 2::BIGINT AS sel_rank, vec_id FROM s2 UNION ALL SELECT 3::BIGINT AS sel_rank, vec_id FROM s3 UNION ALL SELECT 4::BIGINT AS sel_rank, vec_id FROM s4 UNION ALL SELECT 5::BIGINT AS sel_rank, vec_id FROM s5) ORDER BY sel_rank""".stripMargin,
    // winnowing (k=4, w=4): rightmost window-min spelled with the SAME
    // primitive formula as the Spark side — j + w − position(
    // reverse(window), min(window)) — no lambda-reduce semantics to
    // diverge on; inner nibble var is `nb` so it can't shadow the
    // outer gram index (lambda shadowing silently hashes one gram)
    "doc_winnow_fingerprint" ->
      s"""WITH $SqlWinnowCtes
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  CAST(list_aggregate(fps, 'bit_xor') AS BIGINT) AS fp_xor
         |FROM fp ORDER BY doc_id""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $SqlWinnowCtes,
         |e AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        count(*)::BIGINT AS shared
         |      FROM e a JOIN e b USING (f) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, shared FROM p WHERE shared >= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "doc_char_collision" ->
      s"""SELECT doc_id, CAST(len(cs) AS BIGINT) AS tot_chars,
         |  CAST(list_sum(list_transform(list_distinct(cs),
         |      c -> (len(list_filter(cs, x -> x = c)))::BIGINT
         |         * (len(list_filter(cs, x2 -> x2 = c)))::BIGINT))
         |    * 1000000 // (len(cs) * len(cs)) AS BIGINT) AS coll_ppm
         |FROM (SELECT doc_id,
         |        string_split(array_to_string(ws, ''), '') AS cs
         |      FROM (SELECT doc_id, $SqlWs AS ws FROM documents)
         |      WHERE len(ws) > 0)
         |ORDER BY doc_id""".stripMargin,
    "bigram_generate" -> {
      val base =
        s"""bi AS (SELECT ws[i+1] AS w, ws[i+2] AS nx, count(*)::BIGINT AS cnt
           |  FROM (SELECT $SqlWs AS ws FROM documents),
           |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
           |  WHERE len(ws) >= 2 GROUP BY 1, 2),
           |nxt AS (SELECT w, nx FROM (
           |  SELECT w, nx, row_number() OVER (
           |    PARTITION BY w ORDER BY cnt DESC, nx) AS rn FROM bi)
           |  WHERE rn = 1),
           |seeds AS (SELECT word AS seed FROM (
           |  SELECT word, count(*) AS c FROM (${sqlWords()}) GROUP BY 1)
           |  ORDER BY c DESC, word LIMIT 3),
           |g0 AS (SELECT seed, seed AS cur, seed AS generated FROM seeds)""".stripMargin
      val steps = (1 to 6).map { i =>
        s"""g$i AS (SELECT seed, coalesce(n.nx, g.cur) AS cur,
           |  CASE WHEN n.nx IS NULL THEN g.generated
           |       ELSE g.generated || ' ' || n.nx END AS generated
           |  FROM g${i - 1} g LEFT JOIN nxt n ON g.cur = n.w)""".stripMargin
      }
      (base +: steps).mkString("WITH ", ",\n", "") +
        "\nSELECT seed, generated FROM g6 ORDER BY seed"
    },
    "events_backtest_ewma" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY epoch_day) AS i FROM d),
        |r(event_type, i, n, ewma) AS (
        |  SELECT event_type, i, n, n FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.n, (idx.n + r.ewma) // 2
        |  FROM idx JOIN r ON idx.event_type = r.event_type
        |    AND idx.i = r.i + 1),
        |f AS (SELECT event_type, n,
        |        lag(ewma) OVER (PARTITION BY event_type ORDER BY i) AS fc
        |      FROM r)
        |SELECT event_type,
        |  CAST(count(fc) AS BIGINT) AS n_eval,
        |  CAST(CAST(coalesce(sum(abs(n - fc)) FILTER (WHERE fc IS NOT NULL), 0) AS BIGINT)
        |    * 1000 // greatest(1, count(fc)) AS BIGINT) AS mae_x1000,
        |  CAST(CAST(coalesce(sum(n - fc) FILTER (WHERE fc IS NOT NULL), 0) AS BIGINT)
        |    * 1000 // greatest(1, count(fc)) AS BIGINT) AS bias_x1000
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "distinct_words_rewrite" ->
      s"""SELECT source, count(DISTINCT word)::BIGINT AS n_distinct
         |FROM (${sqlWords(" source,")}) GROUP BY source ORDER BY source""".stripMargin,
    "index_compression_stats" ->
      s"""WITH post AS (SELECT DISTINCT doc_id, word FROM (${sqlWords(" doc_id,")})),
         |gaps AS (SELECT word,
         |    CASE WHEN lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id) IS NULL
         |         THEN doc_id
         |         ELSE doc_id - lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id)
         |    END AS v
         |  FROM post)
         |SELECT count(DISTINCT word)::BIGINT AS n_terms,
         |  count(*)::BIGINT AS n_postings,
         |  (count(*) * 8)::BIGINT AS raw_bytes,
         |  CAST(sum((length(bin(v)) + 6) // 7) AS BIGINT) AS varint_bytes,
         |  CAST((count(*) * 8 - CAST(sum((length(bin(v)) + 6) // 7) AS BIGINT))
         |    * 1000000 // (count(*) * 8) AS BIGINT) AS savings_ppm
         |FROM gaps""".stripMargin,
    "dq_fd_profile" ->
      """SELECT * FROM (
        |SELECT 'doc_id->source' AS fd, count(*)::BIGINT AS n_lhs,
        |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(max(n_rhs) AS BIGINT) AS max_fanout
        |FROM (SELECT doc_id, count(DISTINCT source) AS n_rhs FROM documents GROUP BY 1)
        |UNION ALL
        |SELECT 'source->lang', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(max(n_rhs) AS BIGINT)
        |FROM (SELECT source, count(DISTINCT lang) AS n_rhs FROM documents GROUP BY 1)
        |UNION ALL
        |SELECT 'lang->source', count(*)::BIGINT,
        |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(max(n_rhs) AS BIGINT)
        |FROM (SELECT lang, count(DISTINCT source) AS n_rhs FROM documents GROUP BY 1)
        |) ORDER BY fd""".stripMargin,
    // merge-on-read deletion vectors: per-file deleted fraction, then
    // the compaction split at the 12000-ppm rewrite threshold
    "lake_delete_vectors" ->
      """WITH r AS (SELECT l_orderkey // 128 AS f,
        |    CASE WHEN epoch_ms(l_shipdate) // 86400000 BETWEEN 9500 AND 9529
        |         THEN 1 ELSE 0 END AS del
        |  FROM lineitem),
        |pf AS (SELECT f, count(*)::BIGINT AS n, CAST(sum(del) AS BIGINT) AS dv
        |       FROM r GROUP BY 1),
        |pol AS (SELECT *, dv * 1000000 // n >= 12000 AS rw FROM pf)
        |SELECT count(*)::BIGINT AS n_files,
        |  count(*) FILTER (WHERE dv > 0)::BIGINT AS files_with_dv,
        |  CAST(sum(n) AS BIGINT) AS rows_total,
        |  CAST(sum(dv) AS BIGINT) AS dv_total,
        |  CAST(sum(n) - sum(dv) AS BIGINT) AS rows_live,
        |  count(*) FILTER (WHERE rw)::BIGINT AS files_rewritten,
        |  CAST(coalesce(sum(n - dv) FILTER (WHERE rw), 0) AS BIGINT) AS rows_rewritten,
        |  CAST(coalesce(sum(dv) FILTER (WHERE NOT rw), 0) AS BIGINT) AS dv_after
        |FROM pol""".stripMargin,
    "lake_zone_map_skipping" ->
      """WITH base AS (SELECT l_orderkey // 512 AS nat_file,
        |        epoch_ms(l_shipdate) // 86400000 AS d
        |      FROM lineitem),
        |b2 AS (SELECT nat_file, d, d // 7 AS srt_file FROM base),
        |nat AS (SELECT nat_file AS f, min(d) mn, max(d) mx, count(*)::BIGINT n
        |        FROM b2 GROUP BY 1),
        |srt AS (SELECT srt_file AS f, min(d) mn, max(d) mx, count(*)::BIGINT n
        |        FROM b2 GROUP BY 1),
        |roll AS (
        |  SELECT 'date_sorted' AS layout, count(*)::BIGINT AS n_files,
        |    CAST(sum(CASE WHEN mx >= 9500 AND mn <= 9529 THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
        |    CAST(sum(n) AS BIGINT) AS rows_total,
        |    CAST(sum(CASE WHEN mx >= 9500 AND mn <= 9529 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
        |  FROM srt
        |  UNION ALL
        |  SELECT 'natural', count(*)::BIGINT,
        |    CAST(sum(CASE WHEN mx >= 9500 AND mn <= 9529 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(n) AS BIGINT),
        |    CAST(sum(CASE WHEN mx >= 9500 AND mn <= 9529 THEN n ELSE 0 END) AS BIGINT)
        |  FROM nat)
        |SELECT layout, n_files, n_scanned, rows_total, rows_scanned,
        |  CAST(rows_scanned * 1000000 // rows_total AS BIGINT) AS scan_ppm
        |FROM roll ORDER BY layout""".stripMargin,
    // walk CTEs (same chain as word_walk_corpus) -> bigram_pmi shape
    // over the generated paths; path words are already cleaned so
    // string_split suffices
    "walk_skipgram_pmi" -> {
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
    },
    "pii_generalize" ->
      """WITH b AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
        |lv AS (SELECT l, bal_c // (100 * (1 << l)) AS bin
        |       FROM b, LATERAL (SELECT unnest(range(0, 13)) AS l) t),
        |g AS (SELECT l, bin, count(*)::BIGINT AS n FROM lv GROUP BY 1, 2),
        |st AS (SELECT l, count(*)::BIGINT AS n_groups, min(n) AS min_group
        |       FROM g GROUP BY 1),
        |ch AS (SELECT coalesce(min(CASE WHEN min_group >= 10 THEN l END), 12) AS level FROM st)
        |SELECT CAST(ch.level AS BIGINT) AS level,
        |  CAST(100 * (1 << ch.level) AS BIGINT) AS bin_width_cents,
        |  st.n_groups, st.min_group,
        |  (SELECT count(*)::BIGINT FROM customer) AS n_rows
        |FROM ch JOIN st ON ch.level = st.l""".stripMargin,
    "dedup_cost_model" ->
      s"""WITH $SqlWinnowCtes,
         |wk AS (SELECT DISTINCT doc_id, unnest(fps) AS k FROM fp),
         |s3 AS (${sqlShingles(3)}),
         |s4 AS (${sqlShingles(4)}),
         |d3 AS (SELECT shingle, count(*)::BIGINT AS df FROM s3 GROUP BY 1),
         |d4 AS (SELECT shingle, count(*)::BIGINT AS df FROM s4 GROUP BY 1),
         |dw AS (SELECT k, count(*)::BIGINT AS df FROM wk GROUP BY 1)
         |SELECT * FROM (
         |  SELECT 'shingle3' AS method, count(*)::BIGINT AS n_keys,
         |    CAST(sum(df) AS BIGINT) AS n_postings,
         |    CAST(sum(df * (df - 1) // 2) AS BIGINT) AS est_pairs FROM d3
         |  UNION ALL
         |  SELECT 'shingle4', count(*)::BIGINT, CAST(sum(df) AS BIGINT),
         |    CAST(sum(df * (df - 1) // 2) AS BIGINT) FROM d4
         |  UNION ALL
         |  SELECT 'winnow4', count(*)::BIGINT, CAST(sum(df) AS BIGINT),
         |    CAST(sum(df * (df - 1) // 2) AS BIGINT) FROM dw)
         |ORDER BY method""".stripMargin,
    "dedup_winnow_eval" ->
      s"""WITH $SqlWinnowCtes,
         |e AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
         |det AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |        FROM e a JOIN e b USING (f) WHERE a.doc_id < b.doc_id),
         |sh AS (SELECT DISTINCT doc_id,
         |         array_to_string(list_slice(ws, i+1, i+3), ' ') AS shingle
         |       FROM t, LATERAL (SELECT unnest(range(0, len(ws) - 2)) AS i) r
         |       WHERE len(ws) >= 3),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |       FROM sh a JOIN sh b USING (shingle)
         |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (SELECT id_a, id_b FROM pp
         |          JOIN sz sa ON pp.id_a = sa.doc_id
         |          JOIN sz sb ON pp.id_b = sb.doc_id
         |          WHERE inter * 5 > (sa.n_sh + sb.n_sh - inter) * 4),
         |c AS (SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         |        (SELECT count(*) FROM det)::BIGINT AS n_detected,
         |        (SELECT count(*) FROM truth JOIN det USING (id_a, id_b))::BIGINT AS n_hit)
         |SELECT n_truth, n_detected, n_hit,
         |  CAST(n_hit * 1000000 // greatest(1, n_detected) AS BIGINT) AS precision_ppm,
         |  CAST(n_hit * 1000000 // greatest(1, n_truth) AS BIGINT) AS recall_ppm
         |FROM c""".stripMargin,
    // same seed-derived affine permutation family as the Spark-side
    // MinHashSignature expression, inlined as literals; shingle hashes
    // are the dual-engine md5-prefix 60-bit value
    "dedup_minhash_eval" -> {
      val P = 2147483647L
      val rnd = new java.util.Random(42L)
      val ab = Seq.fill(16) {
        val a = rnd.nextInt((P - 1).toInt).toLong + 1L
        val b = rnd.nextInt(P.toInt).toLong
        (a, b)
      }
      val md5h = "list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef', " +
        "substr(md5(array_to_string(list_slice(ws, i+1, i+3), ' ')), nb+1, 1)) - 1)::BIGINT << (4*(14-nb))))"
      val sigList = ab.map { case (a, b) =>
        s"list_min(list_transform(hs, hv -> ($a * (hv % $P) + $b) % $P))"
      }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $SqlWs AS ws FROM documents),
         |g AS (SELECT doc_id, list_transform(range(0, len(ws) - 2), i -> $md5h) AS hs
         |      FROM t WHERE len(ws) >= 3),
         |sg AS (SELECT doc_id, $sigList AS sig FROM g),
         |sh AS ($SqlShingles),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM sh a JOIN sh b USING (shingle)
         |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pr AS (SELECT id_a, id_b, inter, sa.n_sh + sb.n_sh - inter AS uni
         |       FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
         |       WHERE inter * 5 > (sa.n_sh + sb.n_sh - inter) * 1),
         |e AS (SELECT
         |        CAST(len(list_filter(range(16), q -> sa.sig[q+1] = sb.sig[q+1])) AS BIGINT)
         |          * 1000000 // 16 AS est_ppm,
         |        inter * 1000000 // uni AS exact_ppm
         |      FROM pr JOIN sg sa ON pr.id_a = sa.doc_id JOIN sg sb ON pr.id_b = sb.doc_id)
         |SELECT count(*)::BIGINT AS n_pairs,
         |  CAST(CAST(coalesce(sum(abs(est_ppm - exact_ppm)), 0) AS BIGINT)
         |       // greatest(1, count(*)) AS BIGINT) AS mean_abs_err_ppm,
         |  CAST(coalesce(max(abs(est_ppm - exact_ppm)), 0) AS BIGINT) AS max_abs_err_ppm
         |FROM e""".stripMargin
    },
    // two recursive-CTE component labelings (exact-jaccard vs winnow
    // pairs), co-clustered pair sets per labeling, then the pair-level
    // agreement quadrants; every multiply-referenced CTE MATERIALIZED
    // eval over the deterministic 50% document hash-sample (the exact
    // shingle-Jaccard truth join is the quadratic this bounds)
    "dedup_rand_index" ->
      s"""WITH RECURSIVE ${sqlWinnowCtes(
             s" WHERE ${sqlMd5Big("CAST(doc_id AS VARCHAR)")} % 100 < 50")},
         |e AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
         |wp AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM e a JOIN e b USING (f) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 3),
         |sh AS MATERIALIZED (${sqlShingles(3,
             where = s" WHERE ${sqlMd5Big("CAST(doc_id AS VARCHAR)")} % 100 < 50")}),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |       FROM sh a JOIN sh b USING (shingle)
         |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS MATERIALIZED (SELECT id_a, id_b
         |      FROM pp JOIN sz sa ON pp.id_a = sa.doc_id
         |      JOIN sz sb ON pp.id_b = sb.doc_id
         |      WHERE inter * 5 > (sa.n_sh + sb.n_sh - inter) * 4),
         |edgesA AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jp
         |         UNION ALL SELECT id_b, id_a FROM jp),
         |nodesA AS (SELECT DISTINCT src AS id FROM edgesA),
         |reachA(id, r) AS (
         |  SELECT id, id FROM nodesA
         |  UNION
         |  SELECT ea.src, reachA.r FROM edgesA ea JOIN reachA ON ea.dst = reachA.id),
         |ccA AS MATERIALIZED (SELECT id, min(r) AS comp FROM reachA GROUP BY 1),
         |edgesB AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM wp
         |         UNION ALL SELECT id_b, id_a FROM wp),
         |nodesB AS (SELECT DISTINCT src AS id FROM edgesB),
         |reachB(id, r) AS (
         |  SELECT id, id FROM nodesB
         |  UNION
         |  SELECT eb.src, reachB.r FROM edgesB eb JOIN reachB ON eb.dst = reachB.id),
         |ccB AS MATERIALIZED (SELECT id, min(r) AS comp FROM reachB GROUP BY 1),
         |paA AS MATERIALIZED (SELECT a.id AS x, b.id AS y FROM ccA a
         |      JOIN ccA b ON a.comp = b.comp AND a.id < b.id),
         |paB AS MATERIALIZED (SELECT a.id AS x, b.id AS y FROM ccB a
         |      JOIN ccB b ON a.comp = b.comp AND a.id < b.id),
         |cnt AS (SELECT
         |  (SELECT count(*) FROM documents
         |   WHERE ${sqlMd5Big("CAST(doc_id AS VARCHAR)")} % 100 < 50)::BIGINT AS n_docs,
         |  (SELECT count(*) FROM paA)::BIGINT AS pe,
         |  (SELECT count(*) FROM paB)::BIGINT AS pw,
         |  (SELECT count(*) FROM paA JOIN paB USING (x, y))::BIGINT AS ab)
         |SELECT n_docs, pe AS pairs_exact, pw AS pairs_winnow,
         |  ab AS pairs_both,
         |  CAST((ab + (n_docs * (n_docs - 1) // 2) - pe - pw + ab) * 1000000
         |       // greatest(1, n_docs * (n_docs - 1) // 2) AS BIGINT)
         |    AS rand_index_ppm
         |FROM cnt""".stripMargin,
    // Kirsch–Mitzenmacher positions over two md5 slices; the bit array
    // is the distinct base position set, a probe is positive iff all k
    // positions join — the same relational filter the Spark side runs
    "dedup_bloom_fpr" ->
      s"""WITH fpx AS (SELECT md5(text) AS f, min(doc_id) AS mn FROM documents GROUP BY 1),
         |h AS (SELECT f, mn,
         |  list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef',
         |    substr(f, nb+1, 1)) - 1)::BIGINT << (4*(14-nb)))) % 2048 AS h1,
         |  list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef',
         |    substr(f, nb+16, 1)) - 1)::BIGINT << (4*(14-nb)))) % 2048 AS h2
         |  FROM fpx),
         |bb AS (SELECT DISTINCT (h1 + j*h2) % 2048 AS pos FROM h,
         |       LATERAL (SELECT unnest(range(4)) AS j) r WHERE mn <= 250),
         |pro AS (SELECT f, h1, h2 FROM h WHERE mn > 250),
         |pp AS (SELECT f, (h1 + j*h2) % 2048 AS pos FROM pro,
         |       LATERAL (SELECT unnest(range(4)) AS j) r),
         |hit AS (SELECT f FROM pp JOIN bb USING (pos) GROUP BY f HAVING count(*) = 4)
         |SELECT (SELECT count(*) FROM bb)::BIGINT AS bits_set,
         |  (SELECT count(*) FROM h WHERE mn <= 250)::BIGINT AS n_base,
         |  (SELECT count(*) FROM pro)::BIGINT AS n_probes,
         |  (SELECT count(*) FROM hit)::BIGINT AS n_fp,
         |  CAST((SELECT count(*) FROM hit) * 1000000
         |       // greatest(1, (SELECT count(*) FROM pro)) AS BIGINT) AS fpr_ppm""".stripMargin,
    "dedup_winnow_increment" ->
      s"""WITH $SqlWinnowCtes,
         |e AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
         |p AS (SELECT n.doc_id AS new_id, b.doc_id AS base_id,
         |        count(*)::BIGINT AS shared
         |      FROM (SELECT * FROM e WHERE doc_id > 250) n
         |      JOIN (SELECT * FROM e WHERE doc_id <= 250) b USING (f)
         |      GROUP BY 1, 2)
         |SELECT new_id, base_id, shared FROM p WHERE shared >= 3
         |ORDER BY new_id, base_id""".stripMargin,
    "doc_rake_keyphrases" ->
      s"""WITH toks AS (SELECT doc_id, i AS pos, ws[i+1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |mk AS (SELECT doc_id, pos, word,
         |         word IN ${TextAnalysis.Stopwords.map(w => s"'$w'")
                     .mkString("(", ", ", ")")} AS is_sw
         |       FROM toks),
         |grp AS (SELECT doc_id, pos, word, is_sw,
         |          sum(CASE WHEN is_sw THEN 1 ELSE 0 END) OVER (
         |            PARTITION BY doc_id ORDER BY pos) AS g
         |        FROM mk),
         |nt AS (SELECT doc_id, pos, word, g FROM grp WHERE NOT is_sw),
         |ph AS (SELECT doc_id, g, count(*)::BIGINT AS plen,
         |         string_agg(word, ' ' ORDER BY pos) AS phrase
         |       FROM nt GROUP BY 1, 2 HAVING count(*) <= 4),
         |ws2 AS (SELECT nt.word,
         |          CAST(CAST(sum(ph.plen) AS BIGINT) * 1000 // count(*) AS BIGINT) AS wscore
         |        FROM nt JOIN ph USING (doc_id, g) GROUP BY 1),
         |sc AS (SELECT nt.doc_id, nt.g, ph.phrase, ph.plen,
         |         CAST(sum(w.wscore) AS BIGINT) AS score
         |       FROM nt JOIN ph USING (doc_id, g) JOIN ws2 w ON nt.word = w.word
         |       GROUP BY 1, 2, 3, 4)
         |SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
         |  count(*)::BIGINT AS cnt, CAST(min(score) AS BIGINT) AS score_x1000
         |FROM sc GROUP BY 1 ORDER BY score_x1000 DESC, phrase LIMIT 25""".stripMargin,
    "table_checksum" ->
      s"""SELECT source, count(*)::BIGINT AS n_rows,
         |  sum(CASE WHEN doc_id IS NULL OR text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_rows,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  CAST(bit_xor(list_sum(list_transform(range(15), nb ->
         |    (strpos('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(1)) || ':' || coalesce(text, chr(1))), nb+1, 1)) - 1)::BIGINT
         |      << (4*(14-nb))))) AS BIGINT) AS checksum
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "media_crossmodal_topk" ->
      s"""WITH f AS (SELECT doc_id AS media_id,
         |        list_transform(range(16), i ->
         |          CAST((doc_id*7 + i*11) % 256 AS BIGINT)) AS fv
         |      FROM documents WHERE CAST(doc_id % 3 AS INT) = 0),
         |q AS (SELECT vec_id, list_transform(list_slice(embedding, 1, 16),
         |        x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
         |      FROM embeddings WHERE vec_id < 20 AND len(embedding) >= 16),
         |s AS (SELECT q.vec_id, f.media_id,
         |        CAST(list_sum(list_transform(range(1, 17), i -> qv[i] * fv[i]))
         |          AS BIGINT) AS score
         |      FROM q CROSS JOIN f),
         |r AS (SELECT vec_id, media_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, media_id) AS rk
         |      FROM s)
         |SELECT vec_id, CAST(rk AS BIGINT) AS rk, media_id, score
         |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    "fuzzy_golden_record" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS id_a, c.c_custkey AS id_b
         |  FROM customer a JOIN customer c
         |    ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |  WHERE levenshtein(a.c_name, c.c_name) <= 1),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |),
         |cl AS (SELECT id AS custkey, min(r) AS comp FROM reach GROUP BY 1),
         |m AS (SELECT cl.comp, c.c_name,
         |        CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c
         |      FROM cl JOIN customer c ON cl.custkey = c.c_custkey),
         |best AS (SELECT comp, c_name AS golden_name FROM (
         |  SELECT comp, c_name, row_number() OVER (PARTITION BY comp
         |    ORDER BY length(c_name) DESC, c_name) AS rn FROM m)
         |  WHERE rn = 1)
         |SELECT m.comp, b.golden_name, count(*)::BIGINT AS n_members,
         |  CAST(sum(m.bal_c) AS BIGINT) AS bal_cents
         |FROM m JOIN best b ON m.comp = b.comp
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "wordcount_rdd" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "textdir_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "streaming_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "streaming_file_sink" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "wordcount_per_source" ->
      s"""SELECT source, word, count(*) AS cnt FROM (${sqlWords(" source,")})
         |GROUP BY source, word ORDER BY source, word""".stripMargin,
    "csv_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "json_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "orc_wordcount" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "partitioned_pruned_scan" ->
      s"""SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "lake_schema_evolution" ->
      s"""SELECT event_type, count(*) AS n, count(value_cents) AS n_v2,
         |  CAST(sum(value_cents) AS BIGINT) AS sum_cents
         |FROM (SELECT event_type,
         |        CASE WHEN event_id % 2 = 1
         |             THEN CAST(round(value * 100) AS BIGINT) END AS value_cents
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the error partition was overwritten with doubled cents; all
    // other partitions keep their original rows
    "lake_dynamic_overwrite" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 2 ELSE 1 END
         |           * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_ntile" ->
      s"""SELECT event_type, tile, count(*) AS n, CAST(sum(value_c) AS BIGINT) AS sum_value_cents FROM (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c,
         |    CAST(ntile(4) OVER (PARTITION BY event_type
         |      ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS BIGINT) AS tile
         |  FROM events)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_user_first_last" ->
      s"""SELECT DISTINCT user_id,
         |  first_value(event_type) OVER w AS first_type,
         |  last_value(event_type) OVER w AS last_type,
         |  count(*) OVER (PARTITION BY user_id) AS n_events
         |FROM (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY user_id""".stripMargin,
    "distinct_words" ->
      s"""SELECT count(DISTINCT word) AS n_words FROM (${sqlWords()})""",
    "distinct_words_sketch" ->
      s"""SELECT count(DISTINCT word) AS n_words FROM (${sqlWords()})""",
    "top_bigrams" ->
      s"""SELECT ngram, count(*) AS cnt FROM (
         |  SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2
         |) GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin,
    "topk_words" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "topk_words_sketch" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "streaming_topk_sketch" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "topk_words_cms" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "word_length_hist" ->
      s"""SELECT length(word) AS word_len, count(*) AS cnt FROM (${sqlWords()})
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "topk_words_per_source" ->
      s"""SELECT source, word, cnt, rn FROM (
         |  SELECT source, word, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rn
         |  FROM (SELECT source, word, count(*) AS cnt FROM (${sqlWords(" source,")})
         |        GROUP BY 1, 2)
         |) WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "topk_words_per_source_plan" ->
      s"""SELECT source, word, cnt, rn FROM (
         |  SELECT source, word, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rn
         |  FROM (SELECT source, word, count(*) AS cnt FROM (${sqlWords(" source,")})
         |        GROUP BY 1, 2)
         |) WHERE rn <= 3 ORDER BY source, rn""".stripMargin,

    "vocab_common_en_de" ->
      s"""SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'en'")})
         |INTERSECT
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'de'")})
         |ORDER BY word""".stripMargin,
    "vocab_en_only" ->
      s"""WITH docs2 AS (
         |  SELECT lang, text FROM documents
         |  UNION ALL
         |  SELECT 'en' AS lang, 'graftplanted graftsingleton' AS text
         |)
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'en'", from = "docs2")})
         |EXCEPT
         |SELECT DISTINCT word FROM (${sqlWords(where = " WHERE lang = 'de'", from = "docs2")})
         |ORDER BY word""".stripMargin,
    "events_by_day" ->
      s"""SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_stats" ->
      s"""SELECT doc_id, length(text)::BIGINT AS n_chars, len(ws)::BIGINT AS n_tokens,
         |  len(list_distinct(ws))::BIGINT AS n_distinct,
         |  coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS sum_word_len
         |FROM (SELECT doc_id, text, $SqlWs AS ws FROM documents) ORDER BY doc_id""".stripMargin,
    "token_counts" ->
      s"""SELECT doc_id, len($SqlWs)::BIGINT AS n_ws_tokens,
         |  len(regexp_extract_all(text, '${TextAnalysis.BpeTokenPattern}'))::BIGINT AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, n_tokens, stopword_hits,
         |  CASE WHEN n_tokens > 0 THEN (swl * 100) // n_tokens ELSE 0 END::BIGINT AS mean_wlen_x100,
         |  (n_tokens BETWEEN 5 AND 100000)
         |    AND ((CASE WHEN n_tokens > 0 THEN (swl * 100) // n_tokens ELSE 0 END) BETWEEN 150 AND 1500)
         |    AND stopword_hits > 0 AS quality_ok
         |FROM (
         |  SELECT doc_id, len(ws)::BIGINT AS n_tokens,
         |    coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS swl,
         |    len(list_filter(ws, w -> list_contains(${sqlList(TextAnalysis.Stopwords)}, w)))::BIGINT AS stopword_hits
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents)
         |) ORDER BY doc_id""".stripMargin,
    "doc_gopher_rules" ->
      s"""SELECT doc_id, n_tokens, n_distinct, stop_hits, n_symbols, mean_wlen_x100,
         |  flag_len, flag_mwl, flag_symbol, flag_distinct, flag_stop,
         |  flag_len AND flag_mwl AND flag_symbol AND flag_distinct AND flag_stop AS gopher_ok
         |FROM (
         |  SELECT doc_id, n_tokens, n_distinct, stop_hits, n_symbols, mean_wlen_x100,
         |    n_tokens BETWEEN 10 AND 100000 AS flag_len,
         |    mean_wlen_x100 BETWEEN 300 AND 1000 AS flag_mwl,
         |    n_symbols * 10 <= n_tokens AS flag_symbol,
         |    n_distinct * 10 >= n_tokens * 3 AS flag_distinct,
         |    stop_hits >= 2 AS flag_stop
         |  FROM (
         |    SELECT doc_id, n_tokens, n_distinct, stop_hits, n_symbols,
         |      CASE WHEN n_tokens > 0 THEN (swl * 100) // n_tokens ELSE 0 END::BIGINT AS mean_wlen_x100
         |    FROM (
         |      SELECT doc_id, len(ws)::BIGINT AS n_tokens,
         |        len(list_distinct(ws))::BIGINT AS n_distinct,
         |        coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS swl,
         |        len(list_filter(ws, w -> list_contains(${sqlList(TextAnalysis.Stopwords)}, w)))::BIGINT AS stop_hits,
         |        len(regexp_extract_all(text, '$SqlSymbolPattern'))::BIGINT AS n_symbols
         |      FROM (SELECT doc_id, text, $SqlWs AS ws FROM documents)
         |    )
         |  )
         |) ORDER BY doc_id""".stripMargin,
    "doc_repetition_gopher" ->
      s"""WITH base AS (SELECT doc_id, $SqlWs AS ws FROM documents),
         |bc AS (SELECT doc_id,
         |  coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::BIGINT AS n_chars FROM base),
         |g2 AS (SELECT doc_id, array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS g
         |       FROM base, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |       WHERE len(ws) >= 2),
         |c2 AS (SELECT doc_id, g, (length(g) - 1)::BIGINT AS gchars,
         |         count(*)::BIGINT AS cnt FROM g2 GROUP BY 1, 2, 3),
         |t2 AS (SELECT doc_id,
         |         CAST(cnt * gchars * 1000000 // greatest(1, n_chars) AS BIGINT) AS top2_char_ppm
         |       FROM (SELECT c2.*, bc.n_chars,
         |               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
         |             FROM c2 JOIN bc USING (doc_id)) WHERE rn = 1),
         |g3 AS (SELECT doc_id, array_to_string(list_slice(ws, i + 1, i + 3), ' ') AS g
         |       FROM base, LATERAL (SELECT unnest(range(0, len(ws) - 2)) AS i) r
         |       WHERE len(ws) >= 3),
         |c3 AS (SELECT doc_id, g, (length(g) - 2)::BIGINT AS gchars,
         |         count(*)::BIGINT AS cnt FROM g3 GROUP BY 1, 2, 3),
         |d3 AS (SELECT doc_id,
         |         CAST(sum(cnt * gchars) * 1000000 // greatest(1, max(n_chars)) AS BIGINT) AS dup3_char_ppm
         |       FROM c3 JOIN bc USING (doc_id) WHERE cnt >= 2 GROUP BY doc_id)
         |SELECT bc.doc_id, n_chars,
         |  coalesce(top2_char_ppm, 0)::BIGINT AS top2_char_ppm,
         |  coalesce(dup3_char_ppm, 0)::BIGINT AS dup3_char_ppm,
         |  (coalesce(top2_char_ppm, 0) <= 200000
         |    AND coalesce(dup3_char_ppm, 0) <= 300000) AS rep_ok
         |FROM bc LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "doc_seq_pack" ->
      s"""WITH t AS (SELECT source, doc_id, len(ws)::BIGINT AS n_tok
         |           FROM (SELECT source, doc_id, $SqlWs AS ws FROM documents)),
         |c AS (SELECT source, doc_id, n_tok,
         |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS endc
         |      FROM t)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_tok)::BIGINT AS total_tokens,
         |  sum(CASE WHEN n_tok > 0 AND (endc - n_tok) // 256 <> (endc - 1) // 256
         |           THEN 1 ELSE 0 END)::BIGINT AS n_straddlers,
         |  CAST((sum(n_tok) + 255) // 256 AS BIGINT) AS n_sequences,
         |  CAST(CASE WHEN sum(n_tok) = 0 THEN 0
         |            WHEN sum(n_tok) % 256 = 0 THEN 1000000
         |            ELSE (sum(n_tok) % 256) * 1000000 // 256 END AS BIGINT) AS last_fill_ppm
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "doc_novelty" ->
      s"""WITH nb AS (SELECT DISTINCT shingle FROM (${sqlShingles(8, distinct = true, " WHERE doc_id <= 250")})),
         |ng AS (${sqlShingles(8, distinct = true, " WHERE doc_id > 250")})
         |SELECT ng.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN nb.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_seen,
         |  CAST((count(*) - sum(CASE WHEN nb.shingle IS NOT NULL THEN 1 ELSE 0 END))
         |    * 1000000 // greatest(1, count(*)) AS BIGINT) AS novelty_ppm
         |FROM ng LEFT JOIN nb ON ng.shingle = nb.shingle
         |GROUP BY ng.doc_id ORDER BY ng.doc_id""".stripMargin,
    "doc_reservoir_per_lang" ->
      s"""SELECT lang, rn, doc_id FROM (
         |  SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn
         |  FROM (SELECT doc_id, lang, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents))
         |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "bpe_pair_counts" ->
      s"""WITH wc AS (SELECT word, count(*)::BIGINT AS cnt FROM (${sqlWords()}) GROUP BY 1)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt FROM (
         |  SELECT substr(word, i, 2) AS pair, cnt
         |  FROM wc, LATERAL (SELECT unnest(range(1, length(word))) AS i) r
         |  WHERE length(word) >= 2)
         |GROUP BY 1 ORDER BY pair_cnt DESC, pair LIMIT 30""".stripMargin,
    "bpe_learn" -> sqlBpeLearn(6),
    "bigram_pmi" ->
      s"""WITH uni AS (SELECT word, count(*)::BIGINT AS uc FROM (${sqlWords()}) GROUP BY 1),
         |n AS (SELECT CAST(sum(uc) AS BIGINT) AS n_total FROM uni),
         |bi AS (SELECT ngram, count(*)::BIGINT AS cnt FROM (
         |  SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2) GROUP BY 1 HAVING count(*) >= 5)
         |SELECT ngram, cnt, u1.uc AS c1, u2.uc AS c2,
         |  cnt * n_total * 1000 // (u1.uc * u2.uc) AS pmi_x1000
         |FROM bi, n,
         |  uni u1, uni u2
         |WHERE u1.word = string_split(ngram, ' ')[1]
         |  AND u2.word = string_split(ngram, ' ')[2]
         |ORDER BY pmi_x1000 DESC, ngram LIMIT 25""".stripMargin,
    "bigram_lm" ->
      s"""WITH uni AS (SELECT word, count(*)::BIGINT AS c1 FROM (${sqlWords()}) GROUP BY 1),
         |v AS (SELECT count(*)::BIGINT AS vocab FROM uni),
         |bi AS (SELECT ngram, count(*)::BIGINT AS cnt FROM (
         |  SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |  WHERE len(ws) >= 2) GROUP BY 1 HAVING count(*) >= 5)
         |SELECT ngram, cnt, c1, vocab,
         |  (cnt + 1) * 1000000 // (c1 + vocab) AS p_x1e6
         |FROM bi, v, uni
         |WHERE uni.word = string_split(ngram, ' ')[1]
         |ORDER BY ngram""".stripMargin,
    "phrase_search" ->
      s"""WITH w AS (
         |  SELECT doc_id, i AS pos, ws[i + 1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |top1 AS (SELECT string_split(ngram, ' ')[1] AS w1,
         |           string_split(ngram, ' ')[2] AS w2
         |  FROM (SELECT array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS ngram
         |        FROM (SELECT $SqlWs AS ws FROM documents),
         |             LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |        WHERE len(ws) >= 2)
         |  GROUP BY ngram ORDER BY count(*) DESC, ngram LIMIT 1)
         |SELECT a.doc_id, count(*)::BIGINT AS n_hits
         |FROM w a JOIN top1 t ON a.word = t.w1
         |JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.word = t.w2
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // windowed co-occurrence: the ±k condition as a position equi-join
    "skipgram_counts" ->
      s"""WITH w AS (
         |  SELECT doc_id, i AS pos, ws[i + 1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r)
         |SELECT a.word AS w1, b.word AS w2, count(*)::BIGINT AS cnt
         |FROM w a JOIN w b ON a.doc_id = b.doc_id
         |  AND b.pos - a.pos BETWEEN 1 AND 3
         |GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
    "doc_hashed_features" ->
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(word), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) % 64 AS BIGINT) AS bucket,
         |  count(*)::BIGINT AS cnt
         |FROM (${sqlWords(" doc_id,")})
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "skipgram_negatives" ->
      s"""WITH uni AS (SELECT word, count(*)::BIGINT AS n
         |  FROM (${sqlWords()}) GROUP BY 1),
         |wt AS (SELECT word AS neg_word,
         |    CAST(floor((sqrt(CAST(n AS DOUBLE))
         |      * sqrt(sqrt(CAST(n AS DOUBLE)))) * 1000.0) AS BIGINT) AS w075
         |  FROM uni),
         |c AS (SELECT word AS center FROM uni ORDER BY n DESC, word LIMIT 10),
         |p AS (SELECT center, neg_word,
         |    CAST(list_sum(list_transform(range(15), i ->
         |      (strpos('0123456789abcdef',
         |        substr(md5(center || ' ' || neg_word), i+1, 1)) - 1)::BIGINT
         |        << (4*(14-i)))) // (w075 + 1) AS BIGINT) AS priority
         |  FROM c CROSS JOIN wt WHERE neg_word <> center),
         |r AS (SELECT *, CAST(row_number() OVER (
         |    PARTITION BY center ORDER BY priority, neg_word) AS BIGINT) AS rk
         |  FROM p)
         |SELECT center, rk, neg_word, priority FROM r WHERE rk <= 5
         |ORDER BY center, rk""".stripMargin,
    // the distributed numbering must equal the sequential definition
    "doc_global_index" ->
      s"""SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
         |FROM documents ORDER BY doc_id""".stripMargin,
    // minimal cover window over one occurrence of each term: the
    // bounded per-doc cross product of the pruned postings
    "proximity_search" ->
      s"""WITH w AS (
         |  SELECT doc_id, i AS pos, ws[i + 1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |p0 AS (SELECT doc_id, pos FROM w WHERE word = 'hash'),
         |p1 AS (SELECT doc_id, pos FROM w WHERE word = 'join'),
         |p2 AS (SELECT doc_id, pos FROM w WHERE word = 'scan'),
         |s AS (SELECT p0.doc_id,
         |        greatest(p0.pos, p1.pos, p2.pos)
         |          - least(p0.pos, p1.pos, p2.pos) AS span
         |      FROM p0 JOIN p1 USING (doc_id) JOIN p2 USING (doc_id))
         |SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
         |FROM s GROUP BY 1 HAVING min(span) <= 6
         |ORDER BY doc_id""".stripMargin,
    "phrase_search_3" ->
      s"""WITH w AS (
         |  SELECT doc_id, i AS pos, ws[i + 1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |top1 AS (SELECT ngram
         |  FROM (SELECT array_to_string(list_slice(ws, i + 1, i + 3), ' ') AS ngram
         |        FROM (SELECT $SqlWs AS ws FROM documents),
         |             LATERAL (SELECT unnest(range(0, len(ws) - 2)) AS i) r
         |        WHERE len(ws) >= 3)
         |  GROUP BY ngram ORDER BY count(*) DESC, ngram LIMIT 1),
         |pw AS (SELECT i AS idx, string_split(ngram, ' ')[i + 1] AS word
         |       FROM top1, LATERAL (SELECT unnest(range(0, 3)) AS i) r),
         |occ AS (SELECT w.doc_id, w.pos - pw.idx AS base
         |        FROM w JOIN pw ON w.word = pw.word
         |        GROUP BY 1, 2 HAVING count(*) = 3)
         |SELECT doc_id, count(*)::BIGINT AS n_hits FROM occ
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_cohort_matrix" ->
      s"""WITH wk AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
         |f AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1)
         |SELECT cohort_wk, wk.wk - cohort_wk AS offset_wk,
         |  count(DISTINCT wk.user_id)::BIGINT AS n_users
         |FROM wk JOIN f ON wk.user_id = f.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_sparse_pairs" ->
      s"""WITH w AS (${sqlWords(extra = " doc_id,")}),
         |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
         |keep AS (SELECT word FROM tf GROUP BY 1 HAVING count(*) <= 100),
         |p AS (SELECT tf.* FROM tf JOIN keep USING (word))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |FROM p a JOIN p b ON a.word = b.word AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING sum(a.tf * b.tf) >= 2
         |ORDER BY id_a, id_b""".stripMargin,
    // distinct (doc, lang, word) postings; df-pruned; en x de pairs
    "doc_langpair_mining" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, lang, word
         |  FROM (${sqlWords(" doc_id, lang,")}) WHERE lang IN ('en', 'de')),
         |keep AS (SELECT word FROM w GROUP BY 1 HAVING count(*) <= 200),
         |p AS (SELECT w.* FROM w JOIN keep USING (word))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM p a JOIN p b ON a.word = b.word
         |  AND a.lang = 'en' AND b.lang = 'de'
         |GROUP BY 1, 2 HAVING count(*) >= 1
         |ORDER BY id_a, id_b""".stripMargin,
    "vocab_coverage" ->
      s"""WITH w AS (${sqlWords(extra = " doc_id,")}),
         |vocab AS (SELECT word FROM w GROUP BY 1
         |          ORDER BY count(*) DESC, word LIMIT 100),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM w GROUP BY 1),
         |oov AS (SELECT doc_id, count(*)::BIGINT AS n_oov FROM w
         |        WHERE word NOT IN (SELECT word FROM vocab) GROUP BY 1)
         |SELECT tot.doc_id, n_tokens, coalesce(n_oov, 0) AS n_oov,
         |  coalesce(n_oov, 0) * 1000 // n_tokens AS oov_x1000
         |FROM tot LEFT JOIN oov ON tot.doc_id = oov.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    "doc_mixture_sample" ->
      s"""WITH s AS (SELECT source, count(*)::BIGINT AS n_src,
         |             CAST(1 + coalesce(TRY_CAST(regexp_extract(source, '[0-9]+', 0)
         |               AS INT), 0) % 4 AS BIGINT) AS w
         |           FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM s),
         |q AS (SELECT source, least(n_src, 200 * w // w_tot) AS quota FROM s, t),
         |r AS (SELECT doc_id, source,
         |        CAST(row_number() OVER (PARTITION BY source ORDER BY
         |          list_sum(list_transform(range(15), i ->
         |            (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |              << (4*(14-i)))), doc_id) AS BIGINT) AS rk
         |      FROM documents)
         |SELECT r.source, doc_id, rk FROM r JOIN q ON r.source = q.source
         |WHERE rk <= quota ORDER BY r.source, doc_id""".stripMargin,
    // α=0.75 weights as sqrt(n)·sqrt(sqrt(n)) — each factor IEEE
    // correctly-rounded, so the milli-scaled floor is engine-exact
    "doc_temperature_sample" ->
      s"""WITH s AS (SELECT source, count(*)::BIGINT AS n_src,
         |             CAST(floor((sqrt(CAST(count(*) AS DOUBLE))
         |               * sqrt(sqrt(CAST(count(*) AS DOUBLE)))) * 1000.0) AS BIGINT) AS w
         |           FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM s),
         |q AS (SELECT source, least(n_src, 200 * w // w_tot) AS quota FROM s, t),
         |r AS (SELECT doc_id, source,
         |        CAST(row_number() OVER (PARTITION BY source ORDER BY
         |          list_sum(list_transform(range(15), i ->
         |            (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |              << (4*(14-i)))), doc_id) AS BIGINT) AS rk
         |      FROM documents)
         |SELECT r.source, doc_id, rk FROM r JOIN q ON r.source = q.source
         |WHERE rk <= quota ORDER BY r.source, doc_id""".stripMargin,
    "doc_weighted_sample" ->
      s"""SELECT doc_id, n_tokens, CAST(h // (n_tokens + 1) AS BIGINT) AS priority FROM (
         |  SELECT doc_id, len($SqlWs)::BIGINT AS n_tokens,
         |    list_sum(list_transform(range(15), i ->
         |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |        << (4*(14-i)))) AS h
         |  FROM documents)
         |ORDER BY priority, doc_id LIMIT 30""".stripMargin,
    "doc_bpe_segment" ->
      (sqlBpeCtes(6) +
        s""",
           |vocab AS (SELECT replace(ts, '/', '') AS word,
           |  len(list_filter(string_split(ts, '/'), x -> x != ''))::BIGINT AS n_sub FROM w6)
           |SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
           |FROM (${sqlWords(" doc_id,")}) dw JOIN vocab USING (word)
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    // same merge-table CTEs; rollup keyed by language with milli ratios
    "vocab_fertility" ->
      (sqlBpeCtes(6) +
        s""",
           |vocab AS (SELECT replace(ts, '/', '') AS word,
           |  len(list_filter(string_split(ts, '/'), x -> x != ''))::BIGINT AS n_sub FROM w6),
           |lw AS (SELECT lang, word, count(*) AS c
           |       FROM (${sqlWords(" lang,")}) GROUP BY 1, 2),
           |agg AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_words,
           |          CAST(sum(c * n_sub) AS BIGINT) AS n_bpe_tokens,
           |          CAST(sum(c * length(word)) AS BIGINT) AS n_chars
           |        FROM lw JOIN vocab USING (word) GROUP BY 1)
           |SELECT lang, n_words, n_bpe_tokens,
           |  n_bpe_tokens * 1000 // n_words AS fertility_milli,
           |  n_chars * 1000 // n_bpe_tokens AS chars_per_token_milli
           |FROM agg ORDER BY lang""".stripMargin),
    "events_range_join" ->
      s"""WITH s AS (
         |  SELECT user_id, session_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
         |  FROM (
         |    SELECT user_id, ts_ms,
         |      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |    FROM (
         |      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         |        CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |          OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |        THEN 1 ELSE 0 END AS is_new
         |      FROM events)
         |  ) GROUP BY 1, 2),
         |c AS (SELECT event_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'click')
         |SELECT s.user_id, s.session_id, count(c.event_id)::BIGINT AS n_clicks
         |FROM s LEFT JOIN c ON c.ts_ms BETWEEN s.start_ms AND s.end_ms
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_value_outliers" ->
      s"""WITH v AS (SELECT event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
         |s AS (SELECT event_type, count(*)::BIGINT AS n, CAST(sum(value_c) AS BIGINT) AS s1,
         |      CAST(sum(value_c * value_c) AS BIGINT) AS s2 FROM v GROUP BY 1)
         |SELECT event_id, event_type, value_c,
         |  s1 // n AS mu_c, s2 // n - (s1 // n) * (s1 // n) AS var_c
         |FROM v JOIN s USING (event_type)
         |WHERE (value_c - s1 // n) * (value_c - s1 // n) > 9 * (s2 // n - (s1 // n) * (s1 // n))
         |ORDER BY event_id""".stripMargin,
    "events_gap_fill" ->
      s"""WITH daily AS (SELECT user_id, epoch_ms(ts) // 86400000 AS epoch_day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_c
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(epoch_day) AS d0, max(epoch_day) AS d1 FROM daily),
         |spine AS (SELECT user_id, d.epoch_day
         |  FROM (SELECT DISTINCT user_id FROM daily),
         |       (SELECT unnest(generate_series((SELECT d0 FROM b), (SELECT d1 FROM b)))
         |          AS epoch_day) d)
         |SELECT s.user_id, s.epoch_day,
         |  CAST(coalesce(last_value(day_c IGNORE NULLS) OVER (
         |    PARTITION BY s.user_id ORDER BY s.epoch_day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
         |    AS filled_c,
         |  CAST(CASE WHEN day_c IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_filled
         |FROM spine s LEFT JOIN daily dl
         |  ON s.user_id = dl.user_id AND s.epoch_day = dl.epoch_day
         |ORDER BY s.user_id, s.epoch_day""".stripMargin,
    // linear interpolation between the nearest observed neighbors;
    // signed integer division truncates toward zero on both engines
    "events_gap_interp" ->
      s"""WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_c
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT min(epoch_day) AS d0, max(epoch_day) AS d1 FROM daily),
         |spine AS (SELECT event_type, d.epoch_day
         |  FROM (SELECT DISTINCT event_type FROM daily),
         |       (SELECT unnest(generate_series((SELECT d0 FROM b), (SELECT d1 FROM b)))
         |          AS epoch_day) d),
         |j AS (SELECT s.event_type, s.epoch_day, day_c,
         |    last_value(CASE WHEN day_c IS NOT NULL THEN s.epoch_day END IGNORE NULLS)
         |      OVER wp AS pd,
         |    last_value(day_c IGNORE NULLS) OVER wp AS pv,
         |    first_value(CASE WHEN day_c IS NOT NULL THEN s.epoch_day END IGNORE NULLS)
         |      OVER wn AS nd,
         |    first_value(day_c IGNORE NULLS) OVER wn AS nv
         |  FROM spine s LEFT JOIN daily dl
         |    ON s.event_type = dl.event_type AND s.epoch_day = dl.epoch_day
         |  WINDOW wp AS (PARTITION BY s.event_type ORDER BY s.epoch_day
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wn AS (PARTITION BY s.event_type ORDER BY s.epoch_day
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, epoch_day,
         |  CAST(CASE WHEN day_c IS NOT NULL THEN day_c
         |       WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       ELSE pv + (nv - pv) * (epoch_day - pd) // (nd - pd) END AS BIGINT)
         |    AS interp_c,
         |  CAST(CASE WHEN day_c IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_interp
         |FROM j ORDER BY event_type, epoch_day""".stripMargin,
    // a shingle is novel in exactly the doc where it first appears
    "doc_ngram_novelty" ->
      s"""WITH sh AS ($SqlShingles),
         |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM sh GROUP BY 1),
         |nv AS (SELECT sh.doc_id, count(*)::BIGINT AS n_novel
         |       FROM sh JOIN f ON sh.shingle = f.shingle
         |       WHERE sh.doc_id = f.first_doc GROUP BY 1)
         |SELECT tot.doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
         |  coalesce(n_novel, 0) * 1000 // n_grams AS novelty_x1000
         |FROM tot LEFT JOIN nv ON tot.doc_id = nv.doc_id
         |ORDER BY tot.doc_id""".stripMargin,
    "fuzzy_name_pairs" ->
      s"""SELECT a.c_custkey AS id_a, c.c_custkey AS id_b,
         |  CAST(levenshtein(a.c_name, c.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer c
         |  ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |WHERE levenshtein(a.c_name, c.c_name) <= 1
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_increment" ->
      s"""WITH pairs AS (${sqlJaccard(4, 5)}),
         |ex AS (SELECT b.doc_id FROM documents a JOIN documents b
         |       ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
         |       WHERE b.doc_id > 250),
         |nr AS (SELECT id_b AS doc_id FROM pairs WHERE id_b > 250),
         |drops AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_id FROM ex UNION SELECT doc_id FROM nr))
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM ex)
         |       THEN 'exact' ELSE 'near' END AS reason
         |FROM drops ORDER BY doc_id""".stripMargin,
    "fuzzy_name_pairs_d2" ->
      s"""SELECT a.c_custkey AS id_a, c.c_custkey AS id_b,
         |  CAST(levenshtein(a.c_name, c.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer c
         |  ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |WHERE levenshtein(a.c_name, c.c_name) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "fuzzy_entity_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS id_a, c.c_custkey AS id_b
         |  FROM customer a JOIN customer c
         |    ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |  WHERE levenshtein(a.c_name, c.c_name) <= 1),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id AS custkey, min(r) AS comp FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_value_mad" ->
      s"""WITH v AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
         |m AS (SELECT event_type,
         |        CAST(2.0 * quantile_cont(value_c, 0.5) AS BIGINT) AS med_x2
         |      FROM v GROUP BY 1),
         |d AS (SELECT v.event_type, med_x2,
         |        abs(value_c * 2 - med_x2) AS dev2
         |      FROM v JOIN m USING (event_type)),
         |md AS (SELECT event_type,
         |         CAST(2.0 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad_x4
         |       FROM d GROUP BY 1)
         |SELECT d.event_type, med_x2, mad_x4, count(*)::BIGINT AS n,
         |  CAST(count(*) FILTER (WHERE dev2 * 2 > mad_x4 * 3) AS BIGINT) AS n_outliers
         |FROM d JOIN md USING (event_type)
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "events_zorder_stats" ->
      s"""SELECT zval >> 8 AS zbucket, count(*)::BIGINT AS n,
         |  min(user_id) AS min_user, max(user_id) AS max_user,
         |  min(epoch_day) AS min_day, max(epoch_day) AS max_day
         |FROM (
         |  SELECT user_id, epoch_day,
         |    CAST(list_sum(list_transform(range(16), i ->
         |      (((user_id >> i) & 1) << (2*i + 1)) + (((epoch_day >> i) & 1) << (2*i)))) AS BIGINT) AS zval
         |  FROM (SELECT CAST(user_id AS BIGINT) AS user_id,
         |          epoch_ms(ts) // 86400000 AS epoch_day FROM events))
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_dup_spans" ->
      s"""WITH sp AS (${sqlShingles(8, distinct = false)}),
         |c AS (SELECT shingle, count(*)::BIGINT AS c FROM sp GROUP BY 1),
         |per AS (SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
         |        CAST(count(*) FILTER (WHERE c.c >= 2) AS BIGINT) AS n_dup_spans
         |        FROM sp JOIN c USING (shingle) GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  n_dup_spans * 1000 // n_spans AS dup_ratio_x1000
         |FROM per ORDER BY doc_id""".stripMargin,
    "dedup_crossdoc_spans" ->
      s"""WITH $SqlCrossDocCtes
         |SELECT doc_id, tok_start, tok_end, n_windows FROM isl
         |ORDER BY doc_id, tok_start""".stripMargin,
    "dedup_cut_spans" ->
      s"""WITH $SqlCrossDocCtes,
         |toks AS (SELECT doc_id, i AS pos, ws[i + 1] AS tok
         |         FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |              LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |kept AS (SELECT t.* FROM toks t WHERE NOT EXISTS (
         |           SELECT 1 FROM isl i WHERE i.doc_id = t.doc_id
         |             AND t.pos BETWEEN i.tok_start AND i.tok_end)),
         |ag AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |         md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_fp
         |       FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM toks GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_kept, 0) AS n_kept,
         |  coalesce(n_toks, 0) - coalesce(n_kept, 0) AS n_cut,
         |  coalesce(clean_fp, md5('')) AS clean_fp
         |FROM documents d
         |LEFT JOIN tot ON d.doc_id = tot.doc_id
         |LEFT JOIN ag ON d.doc_id = ag.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "doc_shard_assign" ->
      s"""SELECT doc_id, n_tokens, band,
         |  CAST((row_number() OVER (PARTITION BY band
         |    ORDER BY n_tokens DESC, doc_id) - 1) % 4 AS BIGINT) AS shard
         |FROM (SELECT doc_id, len($SqlWs)::BIGINT AS n_tokens,
         |        length(bin(len($SqlWs)))::BIGINT AS band FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // chr(101)=e, chr(769)=combining acute: the decomposed plant built
    // from code points so no editor/encoding ambiguity enters the SQL
    "doc_nfc_normalize" ->
      s"""SELECT doc_id,
         |  CAST(length(text || chr(101) || chr(769))
         |       - length(nfc_normalize(text || chr(101) || chr(769))) AS BIGINT) AS delta,
         |  md5(nfc_normalize(text || chr(101) || chr(769))) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      s"""SELECT doc_id, md5(lower(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""SELECT doc_id, cand AS pred_lang, score FROM (
         |  SELECT doc_id, cand, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
         |  FROM (
         |    SELECT w.doc_id, u.cand,
         |      len(list_filter(w.ws, x -> list_contains(u.markers, x)))::BIGINT AS score
         |    FROM (SELECT doc_id, $SqlWs AS ws FROM documents) w
         |    CROSS JOIN (VALUES ${TextAnalysis.LangMarkers.map {
                case (c, ms) => s"('$c', ${sqlList(ms)})" }.mkString(", ")}) u(cand, markers)
         |  )
         |) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "doc_chunks" ->
      s"""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |  array_to_string(list_slice(ws, s + 1, s + 32), ' ') AS chunk_text,
         |  CAST(len(list_slice(ws, s + 1, s + 32)) AS BIGINT) AS n_chunk_tokens
         |FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |     LATERAL (SELECT unnest(range(0, len(ws), 24)) AS s,
         |                     generate_subscripts(range(0, len(ws), 24), 1) - 1 AS i) r
         |WHERE len(ws) > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "dataset_split" ->
      s"""SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |            WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(len($SqlWs)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_build" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |),
         |comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
         |keep AS (
         |  SELECT doc_id FROM (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != comp)),
         |good AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, len(ws)::BIGINT AS n_toks,
         |      coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS swl,
         |      len(list_filter(ws, w -> list_contains(${sqlList(TextAnalysis.Stopwords)}, w)))::BIGINT AS sh
         |    FROM (SELECT doc_id, $SqlWs AS ws FROM documents))
         |  WHERE (n_toks BETWEEN 5 AND 100000)
         |    AND ((CASE WHEN n_toks > 0 THEN (swl * 100) // n_toks ELSE 0 END) BETWEEN 150 AND 1500)
         |    AND sh > 0),
         |chunks AS (
         |  SELECT doc_id, CAST(len(list_slice(ws, s + 1, s + 32)) AS BIGINT) AS n_chunk_tokens
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents
         |        WHERE doc_id IN (SELECT doc_id FROM keep)
         |          AND doc_id IN (SELECT doc_id FROM good)),
         |       LATERAL (SELECT unnest(range(0, len(ws), 24)) AS s) r
         |  WHERE len(ws) > 0)
         |SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |            WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_chunks,
         |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
         |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin,

    // v2 capstone: winnow islands (SqlCrossDocCtes) + exact-dedup keep
    // + Gopher static/repetition screens + arithmetic chunking over the
    // cut length + per-(split, source) mixture rollup
    "corpus_build_v2" -> sqlCorpusBuildV2("documents"))

  /** The corpus_build_v2 oracle, parameterized by the documents
    * relation it reads (ADVICE r12: v3 used to be produced by
    * stripPrefix + regex surgery on the FINISHED v2 string — silent
    * breakage the day the text drifted or the word `documents`
    * appeared in a literal; now v2 and v3 share this builder, v3
    * passing its `docsx` CTE name).
    */
  private def sqlCorpusBuildV2(docs: String): String =
      s"""WITH ${sqlCrossDocCtes(docs)},
         |toksv2 AS (SELECT doc_id, i AS pos
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM $docs),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r),
         |nk AS (SELECT t.doc_id, count(*)::BIGINT AS n_kept FROM toksv2 t
         |       WHERE NOT EXISTS (SELECT 1 FROM isl i WHERE i.doc_id = t.doc_id
         |                           AND t.pos BETWEEN i.tok_start AND i.tok_end)
         |       GROUP BY 1),
         |keepv2 AS (SELECT min(doc_id) AS doc_id FROM $docs GROUP BY md5(text)),
         |gop AS (SELECT doc_id FROM (
         |    SELECT doc_id, len(ws)::BIGINT AS n_tokens,
         |      len(list_distinct(ws))::BIGINT AS n_distinct,
         |      coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS swl,
         |      len(list_filter(ws, w -> list_contains(${sqlList(TextAnalysis.Stopwords)}, w)))::BIGINT AS stop_hits,
         |      len(regexp_extract_all(text, '$SqlSymbolPattern'))::BIGINT AS n_symbols
         |    FROM (SELECT doc_id, text, $SqlWs AS ws FROM $docs))
         |  WHERE n_tokens BETWEEN 10 AND 100000
         |    AND (CASE WHEN n_tokens > 0 THEN (swl * 100) // n_tokens ELSE 0 END) BETWEEN 300 AND 1000
         |    AND n_symbols * 10 <= n_tokens
         |    AND n_distinct * 10 >= n_tokens * 3
         |    AND stop_hits >= 2),
         |basev2 AS (SELECT doc_id, $SqlWs AS ws FROM $docs),
         |bcv2 AS (SELECT doc_id,
         |  coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::BIGINT AS n_chars FROM basev2),
         |c2v AS (SELECT doc_id, g, (length(g) - 1)::BIGINT AS gchars, count(*)::BIGINT AS cnt
         |        FROM (SELECT doc_id, array_to_string(list_slice(ws, i + 1, i + 2), ' ') AS g
         |              FROM basev2, LATERAL (SELECT unnest(range(0, len(ws) - 1)) AS i) r
         |              WHERE len(ws) >= 2) GROUP BY 1, 2, 3),
         |t2v AS (SELECT doc_id, CAST(cnt * gchars * 1000000 // greatest(1, n_chars) AS BIGINT) AS top2
         |        FROM (SELECT c2v.*, bcv2.n_chars,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
         |              FROM c2v JOIN bcv2 USING (doc_id)) WHERE rn = 1),
         |c3v AS (SELECT doc_id, g, (length(g) - 2)::BIGINT AS gchars, count(*)::BIGINT AS cnt
         |        FROM (SELECT doc_id, array_to_string(list_slice(ws, i + 1, i + 3), ' ') AS g
         |              FROM basev2, LATERAL (SELECT unnest(range(0, len(ws) - 2)) AS i) r
         |              WHERE len(ws) >= 3) GROUP BY 1, 2, 3),
         |d3v AS (SELECT doc_id,
         |          CAST(sum(cnt * gchars) * 1000000 // greatest(1, max(n_chars)) AS BIGINT) AS dup3
         |        FROM c3v JOIN bcv2 USING (doc_id) WHERE cnt >= 2 GROUP BY doc_id),
         |rep AS (SELECT bcv2.doc_id FROM bcv2
         |        LEFT JOIN t2v USING (doc_id) LEFT JOIN d3v USING (doc_id)
         |        WHERE coalesce(top2, 0) <= 200000 AND coalesce(dup3, 0) <= 300000),
         |surv AS (SELECT d.doc_id, d.source, nk.n_kept FROM $docs d
         |         JOIN keepv2 USING (doc_id) JOIN gop USING (doc_id)
         |         JOIN rep USING (doc_id) JOIN nk USING (doc_id)
         |         WHERE nk.n_kept > 0),
         |chv2 AS (SELECT doc_id, source, least(32, n_kept - s)::BIGINT AS n_chunk_tokens
         |         FROM surv, LATERAL (SELECT unnest(range(0, n_kept, 24)) AS s) r),
         |agv2 AS (SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |                WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |           source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |           count(*) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
         |         FROM chv2 GROUP BY 1, 2)
         |SELECT split, source, n_docs, n_chunks, n_tokens,
         |  CAST(n_tokens * 1000000 // sum(n_tokens) OVER (PARTITION BY split) AS BIGINT) AS share_ppm
         |FROM agv2 ORDER BY split, source""".stripMargin

  // second half of the oracle registry (see oracleSqlBaseA)
  private lazy val oracleSqlBaseB: Map[String, String] = Map(
    // REAL-codec gates: payload content is planted doc_id arithmetic
    // (image w = 8 + d%9, h = 6 + d%7, gray pixel
    // v(i) = (d*7 + i*11) % 256; audio n = 40 + d%37 samples,
    // s(i) = (d*13 + i*17) % 256; video = 16x9 animated GIF with
    // 1 + d%9 frames, frame f pixel v(f,i) = (d*7 + f*19 + i*11) % 256),
    // so the oracle replays every DECODED value without a codec — if
    // ImageIO (PNG or GIF) or the WAV parser returned anything else,
    // the hash compare fails
    "media_meta" ->
      s"""SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 9
         |       WHEN 1 THEN 40 + doc_id % 37 ELSE 16 END AS BIGINT) AS width,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 6 + doc_id % 7
         |       WHEN 1 THEN 1 ELSE 9 END AS BIGINT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 9 ELSE 1 END AS BIGINT) AS n_frames
         |FROM documents ORDER BY media_id""".stripMargin,
    // aHash over DECODED gray pixels (60 balanced blocks vs global
    // mean, integer cross-multiply), 4x15-bit pigeonhole bands,
    // bit_count(xor) verify; plants: exact pixel clones at +10M
    // (image docs, %29), one-pixel +128 perturbations at +20M (%31)
    "media_phash_neardup" ->
      s"""WITH im AS (SELECT doc_id, (8 + doc_id % 9) * (6 + doc_id % 7) AS L
         |            FROM documents WHERE doc_id % 3 = 0),
         |px AS (SELECT doc_id, L,
         |        list_transform(range(L), i -> (doc_id*7 + i*11) % 256) AS vs
         |       FROM im),
         |aug AS (
         |  SELECT doc_id, L, vs FROM px
         |  UNION ALL SELECT doc_id + 10000000, L, vs FROM px WHERE doc_id % 29 = 0
         |  UNION ALL SELECT doc_id + 20000000, L,
         |    list_prepend((vs[1] + 128) % 256, vs[2:]) AS vs
         |  FROM px WHERE doc_id % 31 = 0),
         |b AS (SELECT doc_id, (i * 60) // L AS j,
         |        vs[CAST(i + 1 AS INT)] AS v, L
         |      FROM aug, LATERAL (SELECT unnest(range(0, L)) AS i) r),
         |tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS ts, any_value(L) AS L
         |        FROM b GROUP BY 1),
         |blk AS (SELECT doc_id, j, CAST(sum(v) AS BIGINT) AS s, count(*)::BIGINT AS c
         |        FROM b GROUP BY 1, 2),
         |hsh AS (SELECT blk.doc_id,
         |          CAST(sum(CASE WHEN s * t.L > ts * c
         |            THEN 1::BIGINT << CAST(59 - j AS INT) ELSE 0 END) AS BIGINT) AS ahash
         |        FROM blk JOIN tot t ON blk.doc_id = t.doc_id GROUP BY 1),
         |bd AS (SELECT doc_id, ahash, bb, (ahash >> CAST(15 * bb AS INT)) & 32767 AS key
         |       FROM hsh, LATERAL (SELECT unnest(range(4)) AS bb) r),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |           a.ahash AS ha, c.ahash AS hb
         |         FROM bd a JOIN bd c ON a.bb = c.bb AND a.key = c.key
         |           AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // the image rows are the REAL decode → 4×3 nearest-neighbor
    // resample → re-encode → re-decode round trip; the resampled pixel
    // sum replays the truncating source mapping src = (dst·srcDim) div
    // dstDim over the planted pixel formula
    "media_resize" ->
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS iw, 6 + doc_id % 7 AS ih
         |           FROM documents)
         |SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 4
         |       WHEN 1 THEN 40 + doc_id % 37 ELSE 16 END AS BIGINT) AS width,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 3
         |       WHEN 1 THEN 1 ELSE 9 END AS BIGINT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN
         |      list_sum(list_transform(range(12), i ->
         |        (doc_id*7 + (((i // 4) * ih // 3) * iw + ((i % 4) * iw // 4)) * 11) % 256))
         |    ELSE 0 END AS BIGINT) AS sig
         |FROM d ORDER BY media_id""".stripMargin,
    // the full WAV decode -> frame-energy -> run-length pipeline
    // replayed from the planted sample formula: energy is sum |s-128|
    // per 16-sample frame, silent < 1024, runs via gaps-and-islands
    "media_silence_profile" ->
      s"""WITH m AS (SELECT doc_id AS media_id, 40 + doc_id % 37 AS nb
         |  FROM documents WHERE doc_id % 3 = 1),
         |f AS (SELECT media_id, fi,
         |    list_sum(list_transform(range(16), j ->
         |      abs((media_id*13 + (fi*16 + j)*17) % 256 - 128))) AS e
         |  FROM m, LATERAL (SELECT unnest(range(nb // 16)) AS fi) r),
         |fl AS (SELECT media_id, fi, e, e < 1024 AS s FROM f),
         |runs AS (SELECT media_id, count(*)::BIGINT AS rl FROM (
         |    SELECT media_id, fi,
         |      fi - row_number() OVER (PARTITION BY media_id ORDER BY fi) AS g
         |    FROM fl WHERE s) GROUP BY media_id, g),
         |mr AS (SELECT media_id, max(rl) AS max_run FROM runs GROUP BY 1),
         |agg AS (SELECT media_id, count(*)::BIGINT AS n_frames,
         |    count(*) FILTER (WHERE s)::BIGINT AS n_silent,
         |    CAST(sum(e) AS BIGINT) AS total_energy
         |  FROM fl GROUP BY 1)
         |SELECT a.media_id, n_frames, n_silent,
         |  coalesce(max_run, 0)::BIGINT AS max_silent_run, total_energy
         |FROM agg a LEFT JOIN mr USING (media_id)
         |ORDER BY media_id""".stripMargin,
    // video sig (round 14, real GIF decode): pixel sum over ALL
    // 1 + d%9 frames of the 144-pixel raster, frame f's pixel i being
    // (d*7 + f*19 + i*11) % 256 — folded as one range over f*144 + i
    "media_feature_stats" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    8 + doc_id % 9 AS iw, 6 + doc_id % 7 AS ih,
         |    40 + doc_id % 37 AS an
         |  FROM documents),
         |v AS (SELECT kind,
         |    CASE doc_id % 3 WHEN 0 THEN iw WHEN 1 THEN an ELSE 16 END AS w,
         |    CASE doc_id % 3 WHEN 0 THEN ih WHEN 1 THEN 1 ELSE 9 END AS h,
         |    CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 9 ELSE 1 END AS f,
         |    CASE doc_id % 3
         |      WHEN 0 THEN list_sum(list_transform(range(iw*ih), i ->
         |        (doc_id*7 + i*11) % 256))
         |      WHEN 1 THEN list_sum(list_transform(range(an), i ->
         |        abs((doc_id*13 + i*17) % 256 - 128)))
         |      ELSE list_sum(list_transform(range((1 + doc_id % 9) * 144), i ->
         |        (doc_id*7 + (i // 144)*19 + (i % 144)*11) % 256)) END AS sig
         |  FROM d)
         |SELECT kind, count(*) AS n,
         |  CAST(sum(w) AS BIGINT) AS sum_width,
         |  CAST(sum(h) AS BIGINT) AS sum_height,
         |  CAST(sum(f) AS BIGINT) AS sum_frames,
         |  CAST(sum(sig) AS BIGINT) AS sum_sig
         |FROM v GROUP BY kind ORDER BY kind""".stripMargin,

    "dedup_exact" ->
      s"""SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" -> sqlJaccard(4, 5),
    "dedup_minhash" -> sqlJaccard(4, 5),
    // brute-force pairs over the same 60-bit md5-prefix token hash and
    // sign-sum simhash the Spark side computes (banding is the scale
    // path; the oracle checks the exact pair set it must converge to)
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, $SqlWs AS ws FROM documents),
         |sigs AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(60), j ->
         |      CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1)*2 - 1)) > 0
         |           THEN 1::BIGINT << j ELSE 0::BIGINT END)) AS simhash
         |  FROM (SELECT doc_id,
         |          list_transform(ws, w -> list_sum(list_transform(range(15), i ->
         |            (strpos('0123456789abcdef', substr(md5(w), i+1, 1)) - 1)::BIGINT << (4*(14-i))))) AS hs
         |        FROM toks WHERE len(ws) > 0)
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS comp FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // group-wise split: same recursive-CTE CC, then the md5-prefix hash
    // of the component label decides the split for every member at once
    "dataset_split_leakproof" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |),
         |cc AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
         |lbl AS (SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS comp
         |        FROM documents d LEFT JOIN cc USING (doc_id)),
         |hs AS (SELECT doc_id, comp, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h FROM lbl)
         |SELECT doc_id, comp,
         |  CASE WHEN h % 10 < 8 THEN 'train'
         |       WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
         |FROM hs ORDER BY doc_id""".stripMargin,
    "dedup_components_star" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS comp FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_components_adaptive" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS comp FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_keep_list_cc" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |),
         |comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != comp)
         |ORDER BY doc_id""".stripMargin,
    "dedup_keep_best_quality" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |),
         |comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY 1),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    (n_tokens BETWEEN 5 AND 100000)
         |      AND ((CASE WHEN n_tokens > 0 THEN (swl * 100) // n_tokens ELSE 0 END) BETWEEN 150 AND 1500)
         |      AND stopword_hits > 0 AS ok
         |  FROM (
         |    SELECT doc_id, len(ws)::BIGINT AS n_tokens,
         |      coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS swl,
         |      len(list_filter(ws, w -> list_contains(${sqlList(TextAnalysis.Stopwords)}, w)))::BIGINT AS stopword_hits
         |    FROM (SELECT doc_id, $SqlWs AS ws FROM documents))),
         |winners AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |      row_number() OVER (PARTITION BY c.comp
         |        ORDER BY q.ok DESC, q.n_tokens DESC, c.doc_id) AS rn
         |    FROM comp c JOIN q USING (doc_id)) WHERE rn = 1),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT doc_id FROM reps WHERE doc_id NOT IN (SELECT doc_id FROM comp)
         |UNION ALL SELECT doc_id FROM winners
         |ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      s"""SELECT doc_id, count(*) AS n_grams,
         |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_grams
         |FROM (${sqlShingles(3, distinct = false)})
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "decontaminate" ->
      s"""SELECT c.doc_id, count(*) AS n_shared_grams
         |FROM (${sqlShingles(8, where = " WHERE doc_id > 50")}) c
         |JOIN (SELECT DISTINCT shingle
         |      FROM (${sqlShingles(8, where = " WHERE doc_id <= 50")})) b
         |  USING (shingle)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_keep_list" ->
      s"""WITH pairs AS (${sqlJaccard(4, 5)}),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY doc_id""".stripMargin,
    "decontaminate_strict" ->
      s"""SELECT doc_id FROM documents WHERE doc_id > 50
         |  AND doc_id NOT IN (
         |    SELECT DISTINCT c.doc_id
         |    FROM (${sqlShingles(8, where = " WHERE doc_id > 50")}) c
         |    JOIN (SELECT DISTINCT shingle
         |          FROM (${sqlShingles(8, where = " WHERE doc_id <= 50")})) b
         |      USING (shingle))
         |ORDER BY doc_id""".stripMargin,
    "corpus_filter_report" ->
      s"""WITH base AS (SELECT doc_id, text, $SqlWs AS ws FROM documents
         |  WHERE doc_id > 50),
         |gq AS (SELECT doc_id,
         |    (len(ws) BETWEEN 10 AND 100000)
         |    AND ((CASE WHEN len(ws) > 0 THEN
         |      (coalesce(list_sum(list_transform(ws, x -> length(x))), 0) * 100) // len(ws)
         |      ELSE 0 END) BETWEEN 300 AND 1000)
         |    AND (len(regexp_extract_all(text, '$SqlSymbolPattern')) * 10 <= len(ws))
         |    AND (len(list_distinct(ws)) * 10 >= len(ws) * 3)
         |    AND (len(list_filter(ws, w -> list_contains(${sqlList(operators.TextAnalysis.Stopwords)}, w))) >= 2)
         |      AS gopher_ok
         |  FROM base),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents
         |  WHERE doc_id > 50 GROUP BY md5(text)),
         |contam AS (SELECT DISTINCT c.doc_id
         |  FROM (${sqlShingles(8, where = " WHERE doc_id > 50")}) c
         |  JOIN (SELECT DISTINCT shingle
         |        FROM (${sqlShingles(8, where = " WHERE doc_id <= 50")})) b
         |    USING (shingle)),
         |sh AS (${sqlShingles(3, where = " WHERE doc_id > 50")}),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM sh a JOIN sh b USING (shingle)
         |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT id_b AS doc_id
         |  FROM p JOIN sz sa ON p.id_a = sa.doc_id
         |         JOIN sz sb ON p.id_b = sb.doc_id
         |  WHERE inter * 5 > (sa.n_sh + sb.n_sh - inter) * 4)
         |SELECT g.doc_id,
         |  (CASE WHEN NOT gopher_ok THEN 1 ELSE 0 END
         |   + CASE WHEN k.doc_id IS NULL THEN 2 ELSE 0 END
         |   + CASE WHEN c.doc_id IS NOT NULL THEN 4 ELSE 0 END
         |   + CASE WHEN d.doc_id IS NOT NULL THEN 8 ELSE 0 END)::BIGINT
         |    AS reason_mask,
         |  (CASE WHEN NOT gopher_ok THEN 1 ELSE 0 END
         |   + CASE WHEN k.doc_id IS NULL THEN 2 ELSE 0 END
         |   + CASE WHEN c.doc_id IS NOT NULL THEN 4 ELSE 0 END
         |   + CASE WHEN d.doc_id IS NOT NULL THEN 8 ELSE 0 END) = 0 AS keep
         |FROM gq g LEFT JOIN keepers k ON g.doc_id = k.doc_id
         |  LEFT JOIN contam c ON g.doc_id = c.doc_id
         |  LEFT JOIN drops d ON g.doc_id = d.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    "events_autocorr_lag7" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(sum(n) // count(*) AS BIGINT) AS m,
        |    count(*)::BIGINT AS n_days FROM daily),
        |dm AS (SELECT epoch_day, n - m.m AS d FROM daily, m),
        |den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dm),
        |num AS (SELECT CAST(sum(a.d * b.d) AS BIGINT) AS num
        |  FROM dm a JOIN dm b ON b.epoch_day = a.epoch_day + 7)
        |SELECT n_days, m AS mean_n, num, den,
        |  CAST(num * 1000000 // den AS BIGINT) AS r_ppm
        |FROM m, num, den""".stripMargin,
    "decontaminate_fuzzy" ->
      s"""WITH bench AS (SELECT DISTINCT shingle
         |  FROM (${sqlShingles(3, where = " WHERE doc_id <= 50")})),
         |st AS (SELECT c.doc_id, count(*) AS n_grams,
         |         count(b.shingle) AS n_shared
         |       FROM (${sqlShingles(3, where = " WHERE doc_id > 50")}) c
         |       LEFT JOIN bench b ON c.shingle = b.shingle
         |       GROUP BY 1)
         |SELECT doc_id, n_grams, n_shared,
         |  n_shared * 1000 // n_grams AS ratio_x1000
         |FROM st WHERE n_shared * 1000 >= n_grams * 300
         |ORDER BY doc_id""".stripMargin,
    "dedup_containment" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000 AS doc_id,
         |    array_to_string(list_slice(ws, 1, len(ws) // 2), ' ') AS text
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents
         |        WHERE doc_id % 83 = 0)),
         |sh AS (SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(ws, i + 1, i + 4), ' ') AS shingle
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM aug),
         |       LATERAL (SELECT unnest(range(0, len(ws) - 3)) AS i) r
         |  WHERE len(ws) >= 4),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM sh a JOIN sh b USING (shingle)
         |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, least(sa.n_sh, sb.n_sh) AS n_small
         |FROM p JOIN sz sa ON p.id_a = sa.doc_id
         |       JOIN sz sb ON p.id_b = sb.doc_id
         |WHERE inter * 10 > least(sa.n_sh, sb.n_sh) * 9
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_components_minhash" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id AS doc_id, min(r) AS comp FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "knn_cosine" ->
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "knn_cosine_plan" ->
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |               c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // annulus filter BEFORE the rank — same cosine expression tree
    "knn_hard_negatives" ->
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
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_ivf" ->
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
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_recall_report" ->
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.45
         |ORDER BY 1, 2""".stripMargin,
    // same converged-centroid chain as ann_ivf_kmeans; the dedup drops
    // any vector with a cosine-similar LOWER-id vector in its own cell
    "semdedup_keep" ->
      s"""${sqlKmeansCents(8, 5)},
         |cells AS (SELECT vec_id, cluster AS cell FROM (
         |  SELECT e.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.45)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id""".stripMargin,
    "emb_prototypes" ->
      s"""${sqlKmeansCents(8, 5)},
         |best AS (SELECT vec_id, cluster, d2 FROM (
         |  SELECT e.vec_id, c.cluster, ${sqlD2("e", "c")} AS d2,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlD2("e", "c")}, c.cluster) AS rn
         |  FROM ev e CROSS JOIN c5 c) WHERE rn = 1)
         |SELECT vec_id, cluster, d2 FROM (
         |  SELECT vec_id, cluster, d2,
         |    row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS r
         |  FROM best) WHERE r <= 40 ORDER BY vec_id""".stripMargin,
    // ±1 signs from the dual-engine md5 parity of "j:i"; projection is
    // an exact integer fold over the scaled embedding
    "emb_random_projection" ->
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
         |ORDER BY vec_id, dim""".stripMargin,
    // the quantized code IS the contract: round((x-mn)*255/(mx-mn)) per
    // dim (identical IEEE expression tree on both engines), constant
    // dims -> 0, then exact integer squared-L2 ranking
    "ann_pq" -> sqlPqAdc(m = 4, codebookK = 8, iters = 3, nQ = 10, k = 5),
    "ann_ivfpq" -> sqlPqAdc(m = 4, codebookK = 8, iters = 3, nQ = 10, k = 5,
      nCells = 8, cellIters = 5),
    "ann_sq8" ->
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
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "emb_neardup_lsh" ->
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
         |ORDER BY 1, 2""".stripMargin,

    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue" ->
      s"""SELECT l_orderkey,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-09-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY 1 ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q6_forecast" ->
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q18_large_orders" ->
      s"""SELECT c_name, l_orderkey AS orderkey, total_qty FROM (
         |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) >= 150
         |) JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_qty DESC, orderkey""".stripMargin,
    "events_retention" ->
      s"""SELECT week, count(*) AS n_retained FROM (
         |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
         |) a WHERE EXISTS (
         |  SELECT 1 FROM (
         |    SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
         |  ) b WHERE b.user_id = a.user_id AND b.week = a.week + 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "parts_revenue_by_brand" ->
      s"""SELECT p_brand,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "top_orders_per_cust" ->
      s"""SELECT o_custkey, o_orderkey, rn, CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
         |FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders
         |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "wordcount_salted" ->
      s"""SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY word ORDER BY word""",
    "events_asof" ->
      s"""SELECT event_id AS purchase_id, last_view_id, ts_ms - last_view_ts AS gap_ms
         |FROM (
         |  SELECT event_id, event_type, ts_ms,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER w AS last_view_id,
         |    last_value(CASE WHEN event_type = 'view' THEN ts_ms END IGNORE NULLS)
         |      OVER w AS last_view_ts
         |  FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
         |        WHERE event_type IN ('view', 'purchase'))
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |) WHERE event_type = 'purchase' AND last_view_id IS NOT NULL
         |ORDER BY purchase_id""".stripMargin,
    // nearest view on either side; ties prefer the earlier (prev) one
    "events_asof_nearest" ->
      s"""SELECT event_id AS purchase_id,
         |  CASE WHEN nv_id IS NULL OR (pv_id IS NOT NULL AND ts_ms - pv_ts <= nv_ts - ts_ms)
         |    THEN pv_id ELSE nv_id END AS nearest_view_id,
         |  CASE WHEN nv_id IS NULL OR (pv_id IS NOT NULL AND ts_ms - pv_ts <= nv_ts - ts_ms)
         |    THEN ts_ms - pv_ts ELSE nv_ts - ts_ms END AS gap_ms
         |FROM (
         |  SELECT event_id, event_type, ts_ms,
         |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER wp AS pv_id,
         |    last_value(CASE WHEN event_type = 'view' THEN ts_ms END IGNORE NULLS)
         |      OVER wp AS pv_ts,
         |    first_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
         |      OVER wn AS nv_id,
         |    first_value(CASE WHEN event_type = 'view' THEN ts_ms END IGNORE NULLS)
         |      OVER wn AS nv_ts
         |  FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
         |        WHERE event_type IN ('view', 'purchase'))
         |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_ms, event_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |         wn AS (PARTITION BY user_id ORDER BY ts_ms, event_id
         |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |) WHERE event_type = 'purchase' AND (pv_id IS NOT NULL OR nv_id IS NOT NULL)
         |ORDER BY purchase_id""".stripMargin,
    // change set between split-point per-user state and log-end state
    "events_snapshot_diff" ->
      s"""WITH o AS (SELECT user_id, event_id FROM (
         |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |    FROM events WHERE epoch_ms(ts) < 1705363200000) WHERE rn = 1),
         |n AS (SELECT user_id, event_id FROM (
         |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |    FROM events) WHERE rn = 1)
         |SELECT coalesce(n.user_id, o.user_id) AS user_id,
         |  CASE WHEN o.user_id IS NULL THEN 'added' ELSE 'changed' END AS status,
         |  o.event_id AS old_event_id, n.event_id AS new_event_id
         |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
         |WHERE o.event_id IS NULL OR o.event_id <> n.event_id
         |ORDER BY user_id""".stripMargin,
    // positional order statistics: value at rank ceil(q*n), ties safe
    // because tied positions hold the same value
    "events_winsorized" ->
      s"""WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
         |           FROM events WHERE value IS NOT NULL),
         |r AS (SELECT event_type, c,
         |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS rn
         |      FROM v),
         |n AS (SELECT event_type, max(rn) AS n FROM r GROUP BY 1),
         |cuts AS (SELECT r.event_type,
         |           min(CASE WHEN rn = (5 * n.n + 99) // 100 THEN c END) AS lo_cents,
         |           min(CASE WHEN rn = (95 * n.n + 99) // 100 THEN c END) AS hi_cents
         |         FROM r JOIN n ON r.event_type = n.event_type GROUP BY 1)
         |SELECT r.event_type, count(*)::BIGINT AS n,
         |  min(lo_cents) AS lo_cents, min(hi_cents) AS hi_cents,
         |  CAST(sum(c) AS BIGINT) AS sum_cents,
         |  CAST(sum(greatest(lo_cents, least(hi_cents, c))) AS BIGINT) AS wins_sum_cents
         |FROM r JOIN cuts ON r.event_type = cuts.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // a user enters the cumulative curve exactly at their first day
    "events_cumulative_users" ->
      s"""WITH f AS (SELECT user_id, min(epoch_ms(ts) // 86400000) AS first_day
         |           FROM events GROUP BY 1),
         |d AS (SELECT first_day, count(*)::BIGINT AS n_new FROM f GROUP BY 1)
         |SELECT first_day AS day, n_new,
         |  CAST(sum(n_new) OVER (ORDER BY first_day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         |FROM d ORDER BY day""".stripMargin,
    // integer least-squares over (rebased day index, daily count)
    "events_daily_trend" ->
      s"""WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         |                 count(*)::BIGINT AS c
         |               FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, count(*)::BIGINT AS n_days,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(c) AS BIGINT) AS sy,
         |        CAST(sum(x * c) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM (SELECT event_type, day - (SELECT min(day) FROM daily) AS x, c
         |            FROM daily)
         |      GROUP BY 1)
         |SELECT event_type, n_days,
         |  (n_days * sxy - sx * sy) * 1000000 // nullif(n_days * sxx - sx * sx, 0)
         |    AS slope_micro
         |FROM m ORDER BY event_type""".stripMargin,
    // RANGE frame bounded by the ts VALUE: 7 days = 604800000 ms
    "events_rolling_7d" ->
      s"""SELECT event_id, CAST(count(*) OVER w AS BIGINT) AS roll_n,
         |  CAST(coalesce(sum(v_c) OVER w, 0) AS BIGINT) AS roll_sum_cents
         |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         |        CAST(round(value * 100) AS BIGINT) AS v_c FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
         |             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    "events_snapshot_upsert" ->
      s"""WITH ranked AS (
         |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
         |    row_number() OVER (PARTITION BY user_id, epoch_ms(ts) >= 1705363200000
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn,
         |    epoch_ms(ts) >= 1705363200000 AS is_upd
         |  FROM events),
         |snap AS (SELECT * FROM ranked WHERE rn = 1 AND NOT is_upd),
         |upd AS (SELECT * FROM ranked WHERE rn = 1 AND is_upd)
         |SELECT coalesce(u.user_id, s.user_id) AS user_id,
         |  coalesce(u.event_id, s.event_id) AS last_event_id,
         |  coalesce(u.ts_ms, s.ts_ms) AS last_ts_ms,
         |  coalesce(u.event_type, s.event_type) AS last_type
         |FROM snap s FULL OUTER JOIN upd u ON s.user_id = u.user_id
         |ORDER BY user_id""".stripMargin,
    "events_weekly_rollup" ->
      s"""SELECT epoch_day // 7 AS epoch_week,
         |  CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(sum(c) AS BIGINT) AS sum_value_cents
         |FROM (
         |  SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n,
         |    sum(CAST(round(value * 100) AS BIGINT)) AS c
         |  FROM events GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_value_stats" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(c) AS BIGINT) AS sum_cents,
         |  CAST(sum(c * c) AS BIGINT) AS sumsq_cents
         |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "typed_user_spend" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_scd2" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
         |           FROM events),
         |c AS (SELECT user_id, event_type, ts_ms, event_id FROM (
         |        SELECT *, lag(event_type) OVER
         |          (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
         |        FROM e)
         |      WHERE prev_type IS NULL OR prev_type <> event_type)
         |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
         |  event_type AS state, ts_ms AS valid_from_ms,
         |  coalesce(lead(ts_ms) OVER w, 253402300799999) AS valid_to_ms
         |FROM c
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
         |ORDER BY user_id, version""".stripMargin,
    "orders_open_backlog" ->
      """WITH d AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS epoch_day,
        |    1::BIGINT AS opened, 0::BIGINT AS closed FROM orders
        |  UNION ALL
        |  SELECT max(epoch_ms(l_shipdate) // 86400000), 0, 1
        |  FROM lineitem GROUP BY l_orderkey),
        |g AS (SELECT epoch_day, CAST(sum(opened) AS BIGINT) AS n_opened,
        |        CAST(sum(closed) AS BIGINT) AS n_closed
        |      FROM d GROUP BY 1)
        |SELECT epoch_day, n_opened, n_closed,
        |  CAST(sum(n_opened - n_closed) OVER (ORDER BY epoch_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS open_backlog
        |FROM g ORDER BY epoch_day""".stripMargin,
    "sales_discount_slope" ->
      """WITH t AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
        |    CAST(round(l_quantity) AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM t)
        |SELECT n, sx, sy, sxy, sxx,
        |  n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |  CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
        |    AS BIGINT) AS slope_ppm
        |FROM s""".stripMargin,
    "events_scd2_lookup" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
         |           FROM events),
         |c AS (SELECT user_id, event_type, ts_ms, event_id FROM (
         |        SELECT *, lag(event_type) OVER
         |          (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
         |        FROM e)
         |      WHERE prev_type IS NULL OR prev_type <> event_type),
         |dim AS (SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
         |    event_type AS state, ts_ms AS valid_from_ms,
         |    coalesce(lead(ts_ms) OVER w, 253402300799999) AS valid_to_ms
         |  FROM c
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
         |SELECT p.event_id, p.user_id, p.ts_ms, dim.state, dim.version
         |FROM (SELECT event_id, user_id, ts_ms FROM e
         |      WHERE event_type = 'purchase') p
         |JOIN dim ON p.user_id = dim.user_id
         |  AND dim.valid_from_ms <= p.ts_ms AND p.ts_ms < dim.valid_to_ms
         |ORDER BY p.event_id""".stripMargin,
    "emb_dim_stats" ->
      """SELECT dim, count(*)::BIGINT AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_milli,
        |  CAST(sum(xm * xm) AS BIGINT) AS sumsq_milli,
        |  CAST(count(*) * sum(xm * xm) - sum(xm) * sum(xm) AS BIGINT) AS var_num
        |FROM (
        |  SELECT i - 1 AS dim,
        |    CAST(round(embedding[i]::DOUBLE * 1000) AS BIGINT) AS xm
        |  FROM embeddings,
        |       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r)
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "cogroup_user_activity" ->
      s"""WITH e AS (SELECT user_id AS k, count(*)::BIGINT AS n_events,
         |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |               AS events_cents
         |           FROM events GROUP BY 1),
         |o AS (SELECT o_custkey AS k, count(*)::BIGINT AS n_orders,
         |        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |          AS orders_cents
         |      FROM orders GROUP BY 1)
         |SELECT k AS user_id,
         |  coalesce(n_events, 0) AS n_events,
         |  coalesce(events_cents, 0) AS events_cents,
         |  coalesce(n_orders, 0) AS n_orders,
         |  coalesce(orders_cents, 0) AS orders_cents
         |FROM e FULL JOIN o USING (k)
         |ORDER BY user_id""".stripMargin,
    "events_percent_rank" ->
      s"""SELECT event_type,
         |  count(*) FILTER (WHERE pr <= 0.25) AS n_bottom_quartile,
         |  count(*) FILTER (WHERE cd <= 0.5) AS n_lower_half,
         |  CAST(sum(value_c) FILTER (WHERE pr <= 0.25) AS BIGINT) AS bottom_cents
         |FROM (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c,
         |    percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type
         |    ORDER BY CAST(round(value * 100) AS BIGINT), event_id))
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_peak_window" ->
      s"""SELECT user_id, CAST(max(mv) AS BIGINT) AS peak_10min_cents,
         |  count(*) AS n_events
         |FROM (
         |  SELECT user_id,
         |    sum(CAST(round(value * 100) AS BIGINT)) OVER (
         |      PARTITION BY user_id ORDER BY epoch_ms(ts)
         |      RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS mv
         |  FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_melt" ->
      s"""SELECT user_id, metric, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT user_id, count(*) AS n_total,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
         |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
         |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_signup,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view
         |  FROM events GROUP BY user_id)
         |UNPIVOT (cnt FOR metric IN (n_total, n_click, n_error, n_purchase, n_signup, n_view))
         |ORDER BY user_id, metric""".stripMargin,
    "emb_array_stats" ->
      s"""SELECT vec_id,
         |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
         |  CAST(list_sum(list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS sum_milli,
         |  CAST(list_max(list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS max_milli
         |FROM embeddings ORDER BY vec_id LIMIT 500""".stripMargin,
    "events_pivot" ->
      s"""SELECT user_id, count(*) AS n_total,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_rollup" ->
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  GROUPING(event_type)::BIGINT AS is_total, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY ROLLUP(event_type)
         |ORDER BY is_total, et_null, event_type""".stripMargin,
    "events_cube" ->
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  coalesce(epoch_day, -1) AS epoch_day,
         |  CAST(GROUPING(epoch_day) = 0 AND epoch_day IS NULL AS BIGINT) AS day_null,
         |  (GROUPING(event_type)*2 + GROUPING(epoch_day))::BIGINT AS gid,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day, value FROM events)
         |GROUP BY CUBE(event_type, epoch_day)
         |ORDER BY gid, et_null, event_type, day_null, epoch_day""".stripMargin,
    "events_grouping_sets" ->
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  coalesce(epoch_day, -1) AS epoch_day,
         |  CAST(GROUPING(epoch_day) = 0 AND epoch_day IS NULL AS BIGINT) AS day_null,
         |  (GROUPING(event_type)*2 + GROUPING(epoch_day))::BIGINT AS gid,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day, value FROM events)
         |GROUP BY GROUPING SETS ((event_type), (epoch_day))
         |ORDER BY gid, et_null, event_type, day_null, epoch_day""".stripMargin,
    "events_props_map" ->
      s"""SELECT key, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
         |  min(v) AS min_v, max(v) AS max_v
         |FROM (
         |  SELECT key, CAST(json_extract_string(props, '$$.' || key) AS BIGINT) AS v
         |  FROM (SELECT props, unnest(json_keys(props)) AS key FROM events))
         |GROUP BY key ORDER BY key""".stripMargin,
    "events_props_variant" ->
      s"""SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM (SELECT event_type,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_funnel" ->
      s"""WITH fv AS (
         |  SELECT user_id, min(epoch_ms(ts)) AS v_ms FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |fs AS (
         |  SELECT e.user_id, min(epoch_ms(e.ts)) AS s_ms
         |  FROM events e JOIN fv ON e.user_id = fv.user_id
         |  WHERE e.event_type = 'signup' AND epoch_ms(e.ts) > fv.v_ms GROUP BY 1),
         |fp AS (
         |  SELECT e.user_id, min(epoch_ms(e.ts)) AS p_ms
         |  FROM events e JOIN fs ON e.user_id = fs.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > fs.s_ms GROUP BY 1)
         |SELECT count(fv.v_ms) AS n_view, count(fs.s_ms) AS n_signup_after_view,
         |  count(fp.p_ms) AS n_purchase_after_signup
         |FROM fv LEFT JOIN fs ON fv.user_id = fs.user_id
         |  LEFT JOIN fp ON fv.user_id = fp.user_id""".stripMargin,
    "events_tumbling" ->
      s"""SELECT (epoch_ms(ts) // 600000) * 600 AS bucket_start, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "streaming_session_rows" ->
      s"""SELECT user_id, session_id, count(*) AS n_events,
         |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
         |FROM (
         |  SELECT user_id, event_id, ts_ms,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM (
         |    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         |      CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |      THEN 1 ELSE 0 END AS is_new
         |    FROM events)
         |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_sessionize" ->
      s"""SELECT user_id, session_id, count(*) AS n_events,
         |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
         |FROM (
         |  SELECT user_id, event_id, ts_ms,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM (
         |    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         |      CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |      THEN 1 ELSE 0 END AS is_new
         |    FROM events)
         |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_window" ->
      s"""SELECT user_id, min(ts_ms) AS start_ms, count(*) AS n_events
         |FROM (
         |  SELECT user_id, ts_ms,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM (
         |    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         |      CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |        OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) >= 1800000
         |      THEN 1 ELSE 0 END AS is_new
         |    FROM events)
         |) GROUP BY user_id, session_id ORDER BY user_id, start_ms""".stripMargin,
    "events_json" ->
      s"""SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_interval_join" ->
      s"""SELECT p.event_id AS purchase_id, count(v.v_ms) AS n_views_before
         |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
         |      WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT user_id, epoch_ms(ts) AS v_ms FROM events
         |           WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND v.v_ms >= p.ts_ms - 600000 AND v.v_ms < p.ts_ms
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_value_quantiles" ->
      s"""SELECT event_type, count(*) AS n,
         |  quantile_cont(c, 0.25) AS p25, quantile_cont(c, 0.5) AS p50,
         |  quantile_cont(c, 0.75) AS p75
         |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_value_quantiles_sketch" ->
      s"""SELECT event_type, count(*) AS n,
         |  quantile_cont(c, 0.25) AS p25, quantile_cont(c, 0.5) AS p50,
         |  quantile_cont(c, 0.75) AS p75
         |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "customer_spend_tiers" ->
      s"""WITH spend AS (
         |  SELECT o_custkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
         |  FROM orders GROUP BY 1),
         |cuts AS (SELECT quantile_cont(spend_cents, 0.25) AS q1,
         |                quantile_cont(spend_cents, 0.5) AS q2,
         |                quantile_cont(spend_cents, 0.75) AS q3 FROM spend)
         |SELECT CAST(CASE WHEN spend_cents <= q1 THEN 1
         |            WHEN spend_cents <= q2 THEN 2
         |            WHEN spend_cents <= q3 THEN 3 ELSE 4 END AS BIGINT) AS tier,
         |  count(*) AS n_customers, CAST(sum(spend_cents) AS BIGINT) AS sum_spend_cents
         |FROM spend, cuts GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_daily_momentum" ->
      s"""WITH daily AS (
         |  SELECT epoch_ms(ts) // 86400000 AS epoch_day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY 1)
         |SELECT epoch_day, cents,
         |  coalesce(cents - lag(cents) OVER (ORDER BY epoch_day), 0) AS delta_cents,
         |  CAST(sum(cents) OVER (ORDER BY epoch_day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_cents
         |FROM daily ORDER BY epoch_day""".stripMargin,
    "tfidf_top_terms" ->
      s"""WITH tf AS (SELECT doc_id, word, count(*) AS tf
         |            FROM (${sqlWords(" doc_id,")}) GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT doc_id, word, tf, df, tf * 1000000 // df AS score
         |      FROM tf JOIN df USING (word))
         |SELECT doc_id, word, tf, df, score, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS rn FROM s
         |) WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    // mirrors bm25TopDocs: same fixed-point scales, same division order
    "doc_bm25_topk" ->
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
         |       FROM p JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micro, count(*) AS n_terms
         |FROM sc GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin,
    "streaming_events_windows" ->
      s"""SELECT (epoch_ms(ts) // 600000) * 600000 AS window_start_ms, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each event belongs to width/slide = 2 sliding windows
    "events_sliding" ->
      s"""SELECT (epoch_ms(ts) // 300000 - i) * 300000 AS window_start_ms,
         |  event_type, count(*) AS n_events
         |FROM events, LATERAL (SELECT unnest(range(2)) AS i) r
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_clicks_views_fo" ->
      s"""SELECT coalesce(c.epoch_day, v.epoch_day) AS epoch_day,
         |  coalesce(n_clicks, 0) AS n_clicks, coalesce(n_views, 0) AS n_views
         |FROM (SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_clicks
         |      FROM events WHERE event_type = 'click' GROUP BY 1) c
         |FULL JOIN (SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_views
         |           FROM events WHERE event_type = 'view' GROUP BY 1) v
         |  ON c.epoch_day = v.epoch_day
         |ORDER BY epoch_day""".stripMargin,
    "streaming_dedup" ->
      s"""SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp""",
    "pii_scrub" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}'))::BIGINT AS n_urls,
         |  md5(regexp_replace(
         |        regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |        '${TextAnalysis.UrlPattern}', '<URL>', 'g')) AS scrubbed_fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "events_type_rank" ->
      s"""SELECT user_id, event_type, cnt,
         |  rank() OVER w AS rnk, dense_rank() OVER w AS dense_rnk
         |FROM (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
         |WINDOW w AS (PARTITION BY user_id ORDER BY cnt DESC)
         |ORDER BY user_id, event_type""".stripMargin,
    "doc_bigram_familiarity" ->
      s"""WITH g AS (${sqlShingles(2, distinct = false)}),
         |gc AS (SELECT shingle, count(*) AS gcnt FROM g GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(gcnt) AS BIGINT) AS familiarity
         |FROM g JOIN gc USING (shingle)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_modern_agg" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(count_if(n_chars > 200) AS BIGINT) AS n_long,
         |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "sql_pivot" ->
      """SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |  count(*) FILTER (event_type = 'click')::BIGINT AS click,
        |  count(*) FILTER (event_type = 'view')::BIGINT AS view,
        |  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
        |  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
        |  count(*) FILTER (event_type = 'error')::BIGINT AS error
        |FROM events GROUP BY 1 ORDER BY epoch_day""".stripMargin,
    "sql_unpivot" ->
      """SELECT o_orderkey, metric, val FROM (
        |  SELECT o_orderkey, 'price_cents' AS metric,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS val FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'o_custkey', o_custkey FROM orders)
        |ORDER BY o_orderkey, metric""".stripMargin,
    "sql_lateral_topk" ->
      """SELECT c_custkey, o_orderkey, cents FROM customer,
        |LATERAL (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey = c_custkey
        |  ORDER BY cents DESC, o_orderkey LIMIT 3)
        |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin,
    "sql_not_in_nulls" ->
      """WITH sub AS (
        |  SELECT CASE WHEN n_nationkey = 3 THEN NULL
        |              ELSE n_nationkey END AS k
        |  FROM nation)
        |SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_nationkey IN (SELECT k FROM sub)) AS n_in,
        |  (SELECT count(*) FROM customer
        |   WHERE c_nationkey NOT IN (SELECT k FROM sub)) AS n_not_in,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS (
        |     SELECT 1 FROM sub WHERE sub.k = c.c_nationkey)) AS n_not_exists""".stripMargin,
    "sql_set_ops" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity <= 25),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT
        |  (SELECT count(*) FROM
        |    (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t) AS n_intersect_all,
        |  (SELECT count(*) FROM
        |    (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t) AS n_except_all,
        |  (SELECT count(*) FROM
        |    (SELECT * FROM a INTERSECT SELECT * FROM b) t) AS n_intersect,
        |  (SELECT count(*) FROM
        |    (SELECT * FROM a EXCEPT SELECT * FROM b) t) AS n_except""".stripMargin,
    "sql_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "sql_recursive_spine" ->
      s"""WITH RECURSIVE spine(d) AS (
         |  SELECT (SELECT min(epoch_ms(ts) // 86400000) FROM events)
         |  UNION ALL
         |  SELECT d + 1 FROM spine
         |  WHERE d < (SELECT max(epoch_ms(ts) // 86400000) FROM events))
         |SELECT d AS epoch_day, count(e.event_id) AS n_purchases
         |FROM spine LEFT JOIN
         |  (SELECT event_id, epoch_ms(ts) // 86400000 AS ed FROM events
         |   WHERE event_type = 'purchase') e ON e.ed = spine.d
         |GROUP BY d ORDER BY d""".stripMargin,
    // hashed-bucket importance: the bucket-independent smoothing factor
    // (R+B)/(T+B) is dropped (it scales every doc's sum equally); the
    // kept per-token score is the fixed-point target/raw count ratio
    "dsir_select" ->
      s"""WITH tb AS (SELECT doc_id, lang,
         |    list_sum(list_transform(range(15), i ->
         |      (strpos('0123456789abcdef', substr(md5(word), i+1, 1)) - 1)::BIGINT
         |        << (4*(14-i)))) % 1024 AS b
         |  FROM (SELECT doc_id, lang, unnest(ws) AS word
         |        FROM (SELECT doc_id, lang, $SqlWs AS ws FROM documents))),
         |raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
         |tgt AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
         |st AS (SELECT b, (COALESCE(ct, 0) + 1) * 1000000 // (cr + 1) AS s
         |  FROM raw LEFT JOIN tgt USING (b))
         |SELECT doc_id, CAST(sum(s) AS BIGINT) AS importance, count(*) AS n_tokens
         |FROM tb JOIN st USING (b)
         |GROUP BY 1 ORDER BY importance DESC, doc_id LIMIT 100""".stripMargin,
    // the refined form is provably the same permutation and bucketing
    "doc_perplexity_buckets_refined" ->
      s"""WITH g AS (${sqlShingles(2, distinct = false)}),
         |gc AS (SELECT shingle, count(*) AS gcnt FROM g GROUP BY 1),
         |fam AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(gcnt) AS BIGINT) AS familiarity
         |  FROM g JOIN gc USING (shingle) GROUP BY 1)
         |SELECT doc_id, lang, familiarity // n_bigrams AS fam_per_bigram,
         |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY familiarity // n_bigrams DESC, doc_id)
         |    WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket
         |FROM fam JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin,
    // integer LM-score bucketing: familiarity // n_bigrams (truncating
    // div on both engines), ntile over the (score DESC, doc_id) total
    // order — bucket boundaries are deterministic
    "doc_perplexity_buckets" ->
      s"""WITH g AS (${sqlShingles(2, distinct = false)}),
         |gc AS (SELECT shingle, count(*) AS gcnt FROM g GROUP BY 1),
         |fam AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(gcnt) AS BIGINT) AS familiarity
         |  FROM g JOIN gc USING (shingle) GROUP BY 1)
         |SELECT doc_id, lang, familiarity // n_bigrams AS fam_per_bigram,
         |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY familiarity // n_bigrams DESC, doc_id)
         |    WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket
         |FROM fam JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin,
    "doc_sample_hash" ->
      s"""SELECT doc_id FROM (
         |  SELECT doc_id, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents) WHERE h % 100 < 10 ORDER BY doc_id""".stripMargin,
    "doc_pack_sequences" ->
      s"""SELECT source, doc_id, n_tokens, CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id FROM (
         |  SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT source, doc_id, CAST(len($SqlWs) AS BIGINT) AS n_tokens FROM documents))
         |ORDER BY source, doc_id""".stripMargin,
    // recursive-CTE BFS: UNION (not UNION ALL) dedups (word, dist)
    // rows per step, so paths collapse and the recursion is bounded by
    // nodes × maxHops; min(dist) per word = first-reach depth
    "word_bfs_dist" ->
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
         |FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin,
    "word_triangles" ->
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
         |JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst""".stripMargin,
    "part_copurchase" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS supp
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, supp FROM e
        |ORDER BY supp DESC, part_a, part_b LIMIT 100""".stripMargin,
    // undirected triangle enumeration is orientation-free in SQL:
    // x<y<z with all three canonical edges present; each triangle then
    // credits its three corners
    "part_clustering_coeff" ->
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
        |WHERE d >= 2 ORDER BY node""".stripMargin,
    "part_link_pred" ->
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
        |ORDER BY n_common DESC, part_a, part_b LIMIT 50""".stripMargin,
    "part_assoc_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |no AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM op),
        |isupp AS (SELECT p, count(*)::BIGINT AS s FROM op GROUP BY 1),
        |pairs AS (SELECT a.p AS a, b.p AS b, count(*)::BIGINT AS supp
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT a AS ante, b AS cons, supp FROM pairs
        |  UNION ALL SELECT b, a, supp FROM pairs)
        |SELECT ante, cons, supp,
        |  supp * 1000000 // sa.s AS conf_ppm,
        |  CAST(supp * n_orders * 1000000 // (sa.s * sb.s) AS BIGINT) AS lift_ppm
        |FROM d JOIN isupp sa ON d.ante = sa.p JOIN isupp sb ON d.cons = sb.p
        |  CROSS JOIN no
        |ORDER BY conf_ppm DESC, lift_ppm DESC, ante, cons LIMIT 50""".stripMargin,
    "part_assortativity" ->
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
        |FROM s""".stripMargin,
    "events_cusum_split" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(sum(n) // count(*) AS BIGINT) AS m,
        |    count(*)::BIGINT AS n_days FROM daily),
        |c AS (SELECT epoch_day,
        |    CAST(sum(n - m.m) OVER (ORDER BY epoch_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum
        |  FROM daily, m)
        |SELECT n_days, m AS mean_n, epoch_day AS split_day,
        |  abs(cusum) AS max_abs_cusum
        |FROM c, m
        |ORDER BY abs(cusum) DESC, epoch_day LIMIT 1""".stripMargin,
    "part_link_pred_ra" ->
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
        |ORDER BY ra_ppm DESC, part_a, part_b LIMIT 50""".stripMargin,
    // the merged sketch is exact below k, so weekly distinct IS the
    // oracle
    "events_weekly_users_rollup" ->
      """SELECT (epoch_ms(ts) // 86400000) // 7 AS epoch_week,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "customer_churn_by_segment" ->
      """WITH ld AS (SELECT o_custkey,
        |    max(epoch_ms(o_orderdate) // 86400000) AS last_day
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(last_day) AS snap FROM ld)
        |SELECT c.c_mktsegment AS segment,
        |  count(*)::BIGINT AS n_customers,
        |  CAST(sum(CASE WHEN ld.last_day < a.snap - 60 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned,
        |  CAST(sum(CASE WHEN ld.last_day < a.snap - 60 THEN 1 ELSE 0 END)
        |    AS BIGINT) * 1000000
        |    // count(*) AS churn_ppm
        |FROM ld JOIN customer c ON ld.o_custkey = c.c_custkey CROSS JOIN a
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_dwell_time" ->
      """WITH g AS (SELECT event_type, epoch_ms(ts) AS ts_ms,
        |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS nxt
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_dwells,
        |  CAST(sum(nxt - ts_ms) AS BIGINT) AS dwell_ms,
        |  CAST(sum(nxt - ts_ms) AS BIGINT) // count(*) AS mean_dwell_ms
        |FROM g WHERE nxt IS NOT NULL AND nxt - ts_ms <= 1800000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "part_link_pred_jaccard" ->
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
        |ORDER BY jaccard_ppm DESC, part_a, part_b LIMIT 50""".stripMargin,
    "events_ingestion_gaps" ->
      """WITH m AS (SELECT DISTINCT epoch_ms(ts) // 60000 AS epoch_min
        |  FROM events)
        |SELECT epoch_min // 1440 AS epoch_day,
        |  count(*)::BIGINT AS observed_min,
        |  1440 - count(*)::BIGINT AS missing_min
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "doc_ttr_by_lang" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(len(list_distinct(ws)) AS BIGINT) * 1000 // len(ws) AS ttr
         |  FROM (SELECT lang, $SqlWs AS ws FROM documents)
         |  WHERE len(ws) > 0)
         |SELECT lang, count(*) AS n,
         |  quantile_cont(ttr, 0.25) AS p25, quantile_cont(ttr, 0.5) AS p50,
         |  quantile_cont(ttr, 0.75) AS p75
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |      AS m,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1)
        |SELECT cohort_m, o.m - cohort_m AS offset_m,
        |  count(DISTINCT o.o_custkey)::BIGINT AS n_customers,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM o JOIN c ON o.o_custkey = c.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_bias_report" ->
      """WITH f AS (SELECT lang,
        |    list_sum(list_transform(range(15), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
        |        << (4*(14-i)))) % 100 < 10 AS in_sample
        |  FROM documents),
        |g AS (SELECT lang, count(*)::BIGINT AS n_corpus,
        |    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sample
        |  FROM f GROUP BY 1),
        |t AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS tc,
        |    CAST(sum(n_sample) AS BIGINT) AS ts FROM g)
        |SELECT lang, n_corpus, n_sample,
        |  n_corpus * 1000000 // tc AS share_corpus_ppm,
        |  n_sample * 1000000 // ts AS share_sample_ppm,
        |  abs(n_corpus * 1000000 // tc - n_sample * 1000000 // ts)
        |    AS delta_ppm
        |FROM g, t ORDER BY lang""".stripMargin,
    "word_position_profile" ->
      s"""WITH w AS (
         |  SELECT ws[i + 1] AS word,
         |    CAST(i * 1000 // (len(ws) - 1) AS BIGINT) AS ppt
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r
         |  WHERE len(ws) >= 2)
         |SELECT word, count(*)::BIGINT AS n,
         |  CAST(sum(ppt) // count(*) AS BIGINT) AS mean_relpos_ppt
         |FROM w GROUP BY 1
         |ORDER BY n DESC, word LIMIT 30""".stripMargin,
    "events_error_bursts" ->
      """WITH h AS (SELECT epoch_ms(ts) // 3600000 AS epoch_hour,
        |    count(*)::BIGINT AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |d AS (SELECT epoch_hour // 24 AS epoch_day,
        |    CAST(sum(n_errors) AS BIGINT) AS day_errors,
        |    count(*)::BIGINT AS n_hours
        |  FROM h GROUP BY 1)
        |SELECT epoch_hour, n_errors, day_errors, n_hours
        |FROM h JOIN d ON h.epoch_hour // 24 = d.epoch_day
        |WHERE n_errors * n_hours * 2 > day_errors * 3
        |ORDER BY epoch_hour""".stripMargin,
    "ann_cell_histogram" ->
      """WITH cells AS (
        |  SELECT (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
        |     + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
        |     + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)::BIGINT AS cell
        |  FROM embeddings),
        |g AS (SELECT cell, count(*)::BIGINT AS n FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT cell, n, CAST(n * 1000000 // total AS BIGINT) AS share_ppm
        |FROM g, t ORDER BY cell""".stripMargin,
    "dedup_threshold_sweep" ->
      s"""WITH sh AS ($SqlShingles),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM sh a JOIN sh b USING (shingle)
         |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |f AS (SELECT inter, sa.n_sh + sb.n_sh - inter AS uni
         |      FROM p JOIN sz sa ON p.id_a = sa.doc_id
         |             JOIN sz sb ON p.id_b = sb.doc_id)
         |SELECT count(*)::BIGINT AS n_candidates,
         |  CAST(sum(CASE WHEN inter * 10 > uni * 7 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_over_70,
         |  CAST(sum(CASE WHEN inter * 5 > uni * 4 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_over_80,
         |  CAST(sum(CASE WHEN inter * 10 > uni * 9 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_over_90
         |FROM f""".stripMargin,
    "events_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS epoch_day FROM events),
        |fs AS (SELECT user_id, min(epoch_day) AS first_day
        |       FROM ud GROUP BY 1)
        |SELECT epoch_day,
        |  CAST(sum(CASE WHEN epoch_day = first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN epoch_day <> first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning
        |FROM ud JOIN fs USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_norm_extremes" ->
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
        |ORDER BY tail, vec_id""".stripMargin,
    "events_hour_dow_heatmap" ->
      """SELECT (epoch_ms(ts) // 86400000) % 7 AS dow,
        |  (epoch_ms(ts) % 86400000) // 3600000 AS hour,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_stats" ->
      s"""WITH s AS (
         |  SELECT user_id, session_id, count(*)::BIGINT AS n_events,
         |    max(ts_ms) - min(ts_ms) AS dur_ms
         |  FROM (
         |    SELECT user_id, event_id, ts_ms,
         |      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |    FROM (
         |      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         |        CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
         |          OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
         |        THEN 1 ELSE 0 END AS is_new
         |      FROM events))
         |  GROUP BY 1, 2)
         |SELECT count(*)::BIGINT AS n_sessions,
         |  quantile_cont(dur_ms, 0.25) AS dur_p25,
         |  quantile_cont(dur_ms, 0.5) AS dur_p50,
         |  quantile_cont(dur_ms, 0.75) AS dur_p75,
         |  quantile_cont(n_events, 0.25) AS ev_p25,
         |  quantile_cont(n_events, 0.5) AS ev_p50,
         |  quantile_cont(n_events, 0.75) AS ev_p75
         |FROM s""".stripMargin,
    "doc_lang_purity" ->
      """WITH c AS (SELECT source, lang, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, lang, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, lang)
        |      AS rn,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        |  FROM c)
        |SELECT source, n_docs, lang AS top_lang,
        |  CAST(c * 1000000 // n_docs AS BIGINT) AS purity_ppm
        |FROM r WHERE rn = 1 ORDER BY source""".stripMargin,
    "supplier_scorecard" ->
      """WITH j AS (SELECT l.l_suppkey, l.l_returnflag,
        |    epoch_ms(l.l_shipdate) // 86400000
        |      - epoch_ms(o.o_orderdate) // 86400000 AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT l_suppkey, count(*)::BIGINT AS n_items,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returned,
        |    CAST(sum(lag_days) AS BIGINT) AS lag_sum
        |  FROM j GROUP BY 1)
        |SELECT l_suppkey, n_items, n_returned,
        |  n_returned * 1000000 // n_items AS return_ppm,
        |  lag_sum // n_items AS mean_lag_days
        |FROM g ORDER BY return_ppm DESC, l_suppkey LIMIT 50""".stripMargin,
    "doc_pack_efficiency" ->
      s"""WITH p AS (
         |  SELECT source, n_tokens, CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id FROM (
         |    SELECT source, doc_id, n_tokens,
         |      sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM (SELECT source, doc_id, CAST(len($SqlWs) AS BIGINT) AS n_tokens FROM documents))),
         |s AS (SELECT source, seq_id, CAST(sum(n_tokens) AS BIGINT) AS fill
         |      FROM p GROUP BY 1, 2)
         |SELECT source, count(*)::BIGINT AS n_seqs,
         |  CAST(sum(fill) * 1000000 // (count(*) * 256) AS BIGINT)
         |    AS mean_fill_ppm,
         |  CAST(sum(CASE WHEN fill * 1000000 // 256 < 500000 THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_underfull
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_type_drift" ->
      """WITH m AS (SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2
        |    AS mid FROM events),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN epoch_ms(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN epoch_ms(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_b
        |  FROM events, m GROUP BY 1),
        |t AS (SELECT CAST(sum(c_a) AS BIGINT) AS tot_a,
        |    CAST(sum(c_b) AS BIGINT) AS tot_b FROM c)
        |SELECT event_type, c_a, c_b,
        |  c_a * 1000000 // tot_a AS share_a_ppm,
        |  c_b * 1000000 // tot_b AS share_b_ppm,
        |  abs(c_a * 1000000 // tot_a - c_b * 1000000 // tot_b) AS delta_ppm
        |FROM c, t ORDER BY event_type""".stripMargin,
    "order_size_hist" ->
      """SELECT sz AS order_size, count(*)::BIGINT AS n_orders
        |FROM (SELECT l_orderkey, count(*)::BIGINT AS sz
        |      FROM lineitem GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "word_burstiness" ->
      s"""SELECT word, count(*)::BIGINT AS cnt,
         |  count(DISTINCT doc_id)::BIGINT AS df,
         |  CAST(count(*) * 1000 // count(DISTINCT doc_id) AS BIGINT)
         |    AS burst_x1000
         |FROM (${sqlWords(" doc_id,")})
         |GROUP BY word
         |ORDER BY burst_x1000 DESC, word LIMIT 30""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS (${sqlJaccard(4, 5)}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY 1),
         |sizes AS (SELECT comp, count(*)::BIGINT AS sz FROM comp GROUP BY 1),
         |h AS (SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters
         |      FROM sizes GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |cov AS (SELECT COALESCE(CAST(sum(sz) AS BIGINT), 0) AS covered
         |        FROM sizes),
         |s1 AS (SELECT 1::BIGINT AS cluster_size,
         |         n_docs - covered AS n_clusters
         |       FROM tot, cov WHERE n_docs - covered > 0)
         |SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
         |FROM (SELECT * FROM h UNION ALL SELECT * FROM s1)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_fulfillment_lag" ->
      """WITH fs AS (SELECT l_orderkey,
        |    min(epoch_ms(l_shipdate) // 86400000) AS ship_day
        |  FROM lineitem GROUP BY 1),
        |l AS (SELECT o.o_orderpriority,
        |    fs.ship_day - epoch_ms(o.o_orderdate) // 86400000 AS lag_days
        |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey)
        |SELECT o_orderpriority, count(*) AS n,
        |  quantile_cont(lag_days, 0.25) AS p25,
        |  quantile_cont(lag_days, 0.5) AS p50,
        |  quantile_cont(lag_days, 0.75) AS p75
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_drift_check" ->
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
        |FROM g ORDER BY dim""".stripMargin,
    "customer_clv_decay" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    epoch_ms(o_orderdate) // 86400000 AS od FROM orders),
        |s AS (SELECT max(od) AS snap FROM o),
        |d AS (SELECT o_custkey, cents,
        |    cents >> CAST(least((snap - od) // 30, 62) AS INT) AS decayed
        |  FROM o, s)
        |SELECT o_custkey, count(*)::BIGINT AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(decayed) AS BIGINT) AS clv_decayed
        |FROM d GROUP BY 1
        |ORDER BY clv_decayed DESC, o_custkey LIMIT 20""".stripMargin,
    "part_return_rates" ->
      """SELECT l_partkey, n, n_returned,
        |  CAST(n_returned * 1000000 // n AS BIGINT) AS return_ppm
        |FROM (
        |  SELECT l_partkey, count(*)::BIGINT AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returned
        |  FROM lineitem GROUP BY 1)
        |WHERE n >= 20
        |ORDER BY return_ppm DESC, l_partkey LIMIT 50""".stripMargin,
    "events_user_features" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
        |  FROM events),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |    min(gap) AS min_gap_ms FROM (
        |    SELECT user_id, ts_ms - lag(ts_ms) OVER (
        |      PARTITION BY user_id ORDER BY ts_ms, event_id) AS gap
        |    FROM e) GROUP BY 1),
        |d AS (SELECT user_id, count(*)::BIGINT AS n_days,
        |    CAST(max(c) AS BIGINT) AS max_day_events FROM (
        |    SELECT user_id, ts_ms // 86400000 AS dd, count(*) AS c
        |    FROM e GROUP BY 1, 2) GROUP BY 1)
        |SELECT user_id, n_events, n_days, max_day_events,
        |  coalesce(min_gap_ms, -1) AS min_gap_ms,
        |  CAST(n_events * 1000000 // n_days AS BIGINT) AS events_per_day_ppm
        |FROM g JOIN d USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "nation_yoy_revenue" ->
      """WITH rev AS (SELECT n.n_name,
        |    CAST(year(l.l_shipdate) AS BIGINT) AS yr,
        |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT cur.n_name, cur.yr, cur.cents, prev.cents AS prev_cents,
        |  CAST((cur.cents - prev.cents) * 1000000 // prev.cents AS BIGINT)
        |    AS yoy_ppm
        |FROM rev cur JOIN rev prev
        |  ON cur.n_name = prev.n_name AND cur.yr = prev.yr + 1
        |ORDER BY cur.n_name, cur.yr""".stripMargin,
    "lang_confusion_matrix" ->
      s"""WITH pred AS (SELECT doc_id, cand AS pred_lang FROM (
         |  SELECT doc_id, cand, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
         |  FROM (
         |    SELECT w.doc_id, u.cand,
         |      len(list_filter(w.ws, x -> list_contains(u.markers, x)))::BIGINT AS score
         |    FROM (SELECT doc_id, $SqlWs AS ws FROM documents) w
         |    CROSS JOIN (VALUES ${TextAnalysis.LangMarkers.map {
                case (c, ms) => s"('$c', ${sqlList(ms)})" }.mkString(", ")}) u(cand, markers)
         |  )
         |) WHERE rn = 1)
         |SELECT d.lang AS true_lang, p.pred_lang, count(*)::BIGINT AS n
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "orders_aging_buckets" ->
      """WITH o AS (SELECT o_orderstatus, o_totalprice,
        |    epoch_ms(o_orderdate) // 86400000 AS od FROM orders),
        |s AS (SELECT max(od) AS snap FROM o)
        |SELECT CASE WHEN snap - od <= 30 THEN '0-30'
        |            WHEN snap - od <= 60 THEN '31-60'
        |            WHEN snap - od <= 90 THEN '61-90'
        |            ELSE '90+' END AS bucket,
        |  count(*)::BIGINT AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM o, s WHERE o_orderstatus <> 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "parts_pareto_curve" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev),
        |r AS (SELECT l_partkey, cents,
        |    CAST(row_number() OVER w AS BIGINT) AS rnk,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM rev
        |  WINDOW w AS (ORDER BY cents DESC, l_partkey))
        |SELECT rnk, l_partkey, cents,
        |  CAST(cum * 1000000 // total_cents AS BIGINT) AS cum_share_ppm
        |FROM r, t WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
    "events_type_gini" ->
      """WITH dt AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT epoch_day, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq
        |  FROM dt GROUP BY 1)
        |SELECT epoch_day, n,
        |  CAST(1000000 - sumsq * 1000000 // (n * n) AS BIGINT) AS gini_ppm
        |FROM d ORDER BY epoch_day""".stripMargin,
    "events_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase'
        |      AND CAST(round(value * 100) AS BIGINT) >= 15000
        |      THEN 1 ELSE 0 END)::BIGINT AS converted
        |  FROM events GROUP BY 1),
        |a AS (SELECT user_id, converted,
        |    CAST(list_sum(list_transform(range(15), i ->
        |      (strpos('0123456789abcdef',
        |        substr(md5(CAST(user_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
        |        << (4*(14-i)))) % 2 AS BIGINT) AS arm
        |  FROM u)
        |SELECT arm, count(*)::BIGINT AS n_users,
        |  CAST(sum(converted) AS BIGINT) AS n_converted,
        |  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm
        |FROM a GROUP BY arm ORDER BY arm""".stripMargin,
    "events_top_spenders_sketch" ->
      """SELECT user_id, spend_cents FROM (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents
        |  FROM events GROUP BY 1)
        |ORDER BY spend_cents DESC, user_id LIMIT 20""".stripMargin,
    "streaming_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY epoch_day) AS i FROM d),
        |r(event_type, i, epoch_day, n, level, trend) AS (
        |  SELECT event_type, i, epoch_day, n, n, 0::BIGINT
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.epoch_day, idx.n,
        |    (idx.n + r.level + r.trend) // 2,
        |    ((idx.n + r.level + r.trend) // 2 - r.level + r.trend) // 2
        |  FROM idx JOIN r ON idx.event_type = r.event_type
        |    AND idx.i = r.i + 1)
        |SELECT event_type, epoch_day, n, level, trend FROM r
        |ORDER BY event_type, epoch_day""".stripMargin,
    "events_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY epoch_day) AS i FROM d),
        |r(event_type, i, epoch_day, n, level, trend) AS (
        |  SELECT event_type, i, epoch_day, n, n, 0::BIGINT
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.epoch_day, idx.n,
        |    (idx.n + r.level + r.trend) // 2,
        |    ((idx.n + r.level + r.trend) // 2 - r.level + r.trend) // 2
        |  FROM idx JOIN r ON idx.event_type = r.event_type
        |    AND idx.i = r.i + 1)
        |SELECT event_type, epoch_day, n, level, trend FROM r
        |ORDER BY event_type, epoch_day""".stripMargin,
    "part_monthly_trend" ->
      """WITH pm AS (SELECT l_partkey,
        |    (year(l_shipdate) * 12 + month(l_shipdate))::BIGINT AS m,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (SELECT l_partkey, count(*)::BIGINT AS n_months,
        |    CAST(sum(m) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(m * y) AS BIGINT) AS sxy,
        |    CAST(sum(m * m) AS BIGINT) AS sxx
        |  FROM pm GROUP BY 1)
        |SELECT l_partkey, n_months,
        |  n_months * sxy - sx * sy AS num, n_months * sxx - sx * sx AS den,
        |  CAST((n_months * sxy - sx * sy) * 1000000
        |    // (n_months * sxx - sx * sx) AS BIGINT) AS slope_ppm
        |FROM s WHERE n_months * sxx - sx * sx > 0
        |ORDER BY slope_ppm DESC, l_partkey LIMIT 20""".stripMargin,
    "events_ewma" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY epoch_day) AS i FROM d),
        |r(event_type, i, epoch_day, n, ewma) AS (
        |  SELECT event_type, i, epoch_day, n, n FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.epoch_day, idx.n,
        |    (idx.n + r.ewma) // 2
        |  FROM idx JOIN r ON idx.event_type = r.event_type
        |    AND idx.i = r.i + 1)
        |SELECT event_type, epoch_day, n, ewma FROM r
        |ORDER BY event_type, epoch_day""".stripMargin,
    "lake_compaction_bins" ->
      """WITH f AS (SELECT epoch_ms(l_shipdate) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT epoch_day, n_rows,
        |  CAST(COALESCE(sum(n_rows) OVER (ORDER BY epoch_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
        |    AS BIGINT) AS bin
        |FROM f ORDER BY epoch_day""".stripMargin,
    "dq_audit" ->
      """SELECT * FROM (
        |SELECT 'customer.acctbal_nonneg' AS check_id, count(*)::BIGINT AS n_rows,
        |  (count(*) FILTER (WHERE c_acctbal < 0))::BIGINT AS n_bad FROM customer
        |UNION ALL SELECT 'customer.key_unique', count(*),
        |  count(*) - count(DISTINCT c_custkey) FROM customer
        |UNION ALL SELECT 'customer.name_complete', count(*),
        |  count(*) FILTER (WHERE c_name IS NULL) FROM customer
        |UNION ALL SELECT 'orders.key_unique', count(*),
        |  count(*) - count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'orders.status_domain', count(*),
        |  count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) FROM orders
        |UNION ALL SELECT 'lineitem.qty_bounds', count(*),
        |  count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) FROM lineitem
        |UNION ALL SELECT 'lineitem.returnflag_domain', count(*),
        |  count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) FROM lineitem
        |UNION ALL SELECT 'orders.fk_customer', (SELECT count(*) FROM orders),
        |  count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'lineitem.fk_orders', (SELECT count(*) FROM lineitem),
        |  count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'lineitem.ship_after_order', count(*),
        |  count(*) FILTER (WHERE l_shipdate < o_orderdate)
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |) ORDER BY check_id""".stripMargin,
    "streaming_ewma" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY epoch_day) AS i FROM d),
        |r(event_type, i, epoch_day, n, ewma) AS (
        |  SELECT event_type, i, epoch_day, n, n FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.epoch_day, idx.n,
        |    (idx.n + r.ewma) // 2
        |  FROM idx JOIN r ON idx.event_type = r.event_type
        |    AND idx.i = r.i + 1)
        |SELECT event_type, epoch_day, n, ewma FROM r
        |ORDER BY event_type, epoch_day""".stripMargin,
    "streaming_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |a AS (SELECT event_id, event_type, value, ts_ms,
        |  last_value(CASE WHEN event_type IN ('click','view') THEN ts_ms END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ms,
        |  last_value(CASE WHEN event_type IN ('click','view') THEN event_type
        |      END IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
        |  FROM e)
        |SELECT event_id AS purchase_id,
        |  CASE WHEN lt_ms IS NOT NULL AND lt_ms >= ts_ms - 604800000
        |    THEN lt_type ELSE 'direct' END AS channel,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM a WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "events_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |a AS (SELECT event_type, value, ts_ms,
        |  last_value(CASE WHEN event_type IN ('click','view') THEN ts_ms END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ms,
        |  last_value(CASE WHEN event_type IN ('click','view') THEN event_type
        |      END IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
        |  FROM e)
        |SELECT CASE WHEN lt_ms IS NOT NULL AND lt_ms >= ts_ms - 604800000
        |    THEN lt_type ELSE 'direct' END AS channel,
        |  count(*)::BIGINT AS n_purchases,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_journey_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |w AS (SELECT user_id, event_id, event_type, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER ou IS NULL
        |      OR ts_ms - lag(ts_ms) OVER ou > 1800000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW ou AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
        |    ORDER BY ts_ms, event_id) AS pos FROM s),
        |p AS (SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY pos) AS path,
        |    count(*) AS n
        |  FROM r WHERE pos <= 3 GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_sessions FROM p WHERE n = 3
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "emb_top_direction" -> sqlTopDirection(2),
    "emb_top2_directions" -> sqlTop2Directions(2),
    "emb_residual_top" -> sqlResidualTop(2, 20),
    "ann_pq_indexed" -> sqlPqAdc(m = 4, codebookK = 8, iters = 3,
      nQ = 10, k = 5),
    "word_vocab_growth" ->
      s"""WITH fd AS (SELECT word, min(doc_id) AS first_doc FROM (
         |    ${sqlWords(extra = " doc_id,")}) GROUP BY 1),
         |cuts AS (SELECT quantile_cont(doc_id, 0.25) AS q1,
         |    quantile_cont(doc_id, 0.5) AS q2,
         |    quantile_cont(doc_id, 0.75) AS q3 FROM documents)
         |SELECT pct, vocab FROM (
         |  SELECT 25::BIGINT AS pct,
         |    (count(*) FILTER (first_doc <= q1))::BIGINT AS vocab
         |  FROM fd, cuts
         |  UNION ALL SELECT 50, count(*) FILTER (first_doc <= q2)
         |  FROM fd, cuts
         |  UNION ALL SELECT 75, count(*) FILTER (first_doc <= q3)
         |  FROM fd, cuts
         |  UNION ALL SELECT 100, count(*) FROM fd)
         |ORDER BY pct""".stripMargin,
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS d,
        |    user_id FROM events),
        |dau AS (SELECT d, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT w, count(*)::BIGINT AS wau FROM (
        |  SELECT DISTINCT d + r.i AS w, user_id FROM ud,
        |    LATERAL (SELECT unnest(range(0, 7)) AS i) r) GROUP BY 1)
        |SELECT d AS epoch_day, dau, wau,
        |  dau * 1000000 // wau AS stickiness_ppm
        |FROM dau JOIN wau ON d = w ORDER BY epoch_day""".stripMargin,
    "events_error_rate" ->
      """SELECT epoch_day, n_events, n_errors,
        |  n_errors * 1000000 // n_events AS err_ppm FROM (
        |  SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n_events,
        |    (count(*) FILTER (event_type = 'error'))::BIGINT AS n_errors
        |  FROM events GROUP BY 1)
        |ORDER BY epoch_day""".stripMargin,
    "dedup_stats_by_source" ->
      """SELECT source, n_docs, n_distinct,
        |  (n_docs - n_distinct) * 1000000 // n_docs AS dup_ppm FROM (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    count(DISTINCT md5(text))::BIGINT AS n_distinct
        |  FROM documents GROUP BY 1)
        |ORDER BY source""".stripMargin,
    "customer_rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |    max(epoch_ms(o_orderdate) // 86400000) AS last_day,
        |    count(*)::BIGINT AS freq,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
        |  FROM orders GROUP BY 1),
        |cuts AS (SELECT
        |    quantile_cont(last_day, 0.25) AS r1, quantile_cont(last_day, 0.5) AS r2,
        |    quantile_cont(last_day, 0.75) AS r3,
        |    quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
        |    quantile_cont(freq, 0.75) AS f3,
        |    quantile_cont(monetary_c, 0.25) AS m1, quantile_cont(monetary_c, 0.5) AS m2,
        |    quantile_cont(monetary_c, 0.75) AS m3
        |  FROM per)
        |SELECT segment, count(*)::BIGINT AS n_customers,
        |  CAST(sum(monetary_c) AS BIGINT) AS sum_monetary_c FROM (
        |  SELECT (1 + (last_day > r1)::INT + (last_day > r2)::INT
        |      + (last_day > r3)::INT)::VARCHAR
        |    || '-' || (1 + (freq > f1)::INT + (freq > f2)::INT
        |      + (freq > f3)::INT)::VARCHAR
        |    || '-' || (1 + (monetary_c > m1)::INT + (monetary_c > m2)::INT
        |      + (monetary_c > m3)::INT)::VARCHAR AS segment,
        |    monetary_c
        |  FROM per, cuts)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_conversion_time" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
        |    FROM events),
        |fv AS (SELECT user_id, min(ts_ms) AS v_ms FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |fs AS (SELECT e.user_id, min(ts_ms) AS s_ms FROM e
        |  JOIN fv ON e.user_id = fv.user_id
        |  WHERE event_type = 'signup' AND ts_ms > v_ms GROUP BY 1),
        |fp AS (SELECT e.user_id, min(ts_ms) AS p_ms FROM e
        |  JOIN fs ON e.user_id = fs.user_id
        |  WHERE event_type = 'purchase' AND ts_ms > s_ms GROUP BY 1),
        |d AS (SELECT 'view>signup' AS stage, s_ms - v_ms AS delta
        |    FROM fs JOIN fv USING (user_id)
        |  UNION ALL SELECT 'signup>purchase', p_ms - s_ms
        |    FROM fp JOIN fs USING (user_id))
        |SELECT stage, count(*)::BIGINT AS n, min(delta) AS min_ms,
        |  max(delta) AS max_ms, quantile_cont(delta, 0.5) AS p50_ms,
        |  quantile_cont(delta, 0.9) AS p90_ms
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "part_families" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_anomaly_dow" ->
      """SELECT * FROM (
        |  WITH d AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |      event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |  m AS (SELECT (epoch_day + 4) % 7 AS dow, event_type AS et,
        |      CAST(quantile_cont(cnt * 2, 0.5) AS BIGINT) AS med2
        |    FROM d GROUP BY 1, 2)
        |  SELECT epoch_day, event_type, cnt, med2,
        |    CASE WHEN 4 * cnt > 3 * med2 THEN 'high'
        |         WHEN 2 * cnt < med2 THEN 'low' END AS anomaly
        |  FROM d JOIN m ON (d.epoch_day + 4) % 7 = m.dow
        |    AND d.event_type = m.et
        |) WHERE anomaly IS NOT NULL ORDER BY epoch_day, event_type""".stripMargin,
    "join_skew_profile" ->
      """SELECT * FROM (
        |SELECT 'l_orderkey' AS key_col, count(*)::BIGINT AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt)::BIGINT AS max_cnt,
        |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_share_ppm,
        |  quantile_cont(cnt, 0.5) AS p50_cnt, quantile_cont(cnt, 0.99) AS p99_cnt
        |FROM (SELECT count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_orderkey)
        |UNION ALL
        |SELECT 'l_partkey', count(*), CAST(sum(cnt) AS BIGINT), max(cnt),
        |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT),
        |  quantile_cont(cnt, 0.5), quantile_cont(cnt, 0.99)
        |FROM (SELECT count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_partkey)
        |UNION ALL
        |SELECT 'l_suppkey', count(*), CAST(sum(cnt) AS BIGINT), max(cnt),
        |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT),
        |  quantile_cont(cnt, 0.5), quantile_cont(cnt, 0.99)
        |FROM (SELECT count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_suppkey)
        |) ORDER BY key_col""".stripMargin,
    "doc_boilerplate_scrub" ->
      s"""WITH ch AS (
         |  SELECT doc_id, CAST(r.i AS BIGINT) AS chunk_idx,
         |    array_to_string(list_slice(ws, r.s + 1, r.s + 8), ' ') AS t
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |  LATERAL (SELECT unnest(range(0, len(ws), 8)) AS s,
         |                  generate_subscripts(range(0, len(ws), 8), 1) - 1 AS i) r
         |  WHERE len(ws) > 0),
         |dfc AS (SELECT t, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |SELECT doc_id, count(*) AS n_kept,
         |  md5(string_agg(t, ' ' ORDER BY chunk_idx)) AS fp
         |FROM ch WHERE t NOT IN (SELECT t FROM dfc WHERE df > 2)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "word_freq_of_freq" ->
      s"""SELECT cnt, count(*) AS n_words FROM (
         |  SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical wrap + extraction chain on identical markup (the
    // pattern/constant strings are shared Scala vals); the independent
    // proof is doc_html_extract_wordcount below
    "doc_html_extract" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |        html,
         |        '${operators.TextAnalysis.ScriptPattern}', ' ', 'g'),
         |        '${operators.TextAnalysis.StylePattern}', ' ', 'g'),
         |        '${operators.TextAnalysis.BlockTagPattern}', ' ', 'g'),
         |        '${operators.TextAnalysis.AnyTagPattern}', '', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
         |    '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g')) AS clean_text
         |FROM (SELECT doc_id,
         |    '${operators.TextAnalysis.HtmlHead}' || CAST(doc_id AS VARCHAR)
         |    || '${operators.TextAnalysis.HtmlMid}'
         |    || replace(replace(text, ' the ', ' <b>the</b> '),
         |         ' a ', ' <i>a</i> ')
         |    || '${operators.TextAnalysis.HtmlTail}' AS html
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // the oracle never sees markup: tokens of the clean fixture text
    // plus the planted head/h1 constants (entity-decoded, tag-free)
    "doc_html_extract_wordcount" ->
      s"""SELECT word, count(*)::BIGINT AS cnt FROM (${sqlWords(from =
           "(SELECT doc_id, 'doc & meta heading <' || " +
           "CAST(doc_id AS VARCHAR) || '> ' || text AS text " +
           "FROM documents) src")})
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "word_pagerank" -> {
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
    },
    // deterministic walk corpus: 3 unrolled hash-driven steps; the
    // nibble index var is `q` so it can't shadow the walk columns
    "word_walk_corpus" -> {
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
    },
    // synchronous LPA: adopt the most frequent neighbor label, ties to
    // the smallest — a pure function of the prior round, so 2 unrolled
    // rounds land identically on both engines
    "word_communities" -> {
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
    },
    "word_modularity" -> {
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
    },
    // weighted variant: inflow shares proportional to bigram counts
    "word_pagerank_weighted" -> {
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
    },
    // personalized variant: same unrolled recurrence, teleport mass
    // confined to the derived 2-word seed set
    "word_ppr" -> {
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
    },
    // HITS: two half-steps per round (auth <- sum in-hub, hub <- sum
    // out-auth), integer MAX-normalization after each — the scalar max
    // is a subquery, mirroring the 1-row broadcast on the Spark side
    "word_hits" -> {
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
    },
    // k-core: 10 unrolled peel rounds; peeling is monotone, so the
    // rounds past convergence are no-ops and the Spark side (which
    // iterates to convergence, throwing past 10) lands identically.
    // MATERIALIZED is load-bearing: each round references the prior
    // edge CTE three times, and DuckDB's default inlining would
    // re-expand the chain 3^rounds times
    "word_kcore" -> {
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
    },
    "doc_stratified_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents)
         |WHERE h % 100 < (CASE WHEN lang = 'en' THEN 10 WHEN lang = 'de' THEN 50 ELSE 25 END)
         |ORDER BY doc_id""".stripMargin,
    "inverted_index" ->
      s"""WITH pairs AS (SELECT DISTINCT doc_id, word FROM (${sqlWords(" doc_id,")})),
         |d AS (SELECT word, count(*)::BIGINT AS df FROM pairs GROUP BY 1),
         |p AS (SELECT word, list_sort(list(doc_id)) AS ids FROM pairs GROUP BY 1)
         |SELECT d.word AS word,
         |  CASE WHEN d.df <= 100
         |    THEN array_to_string(list_transform(p.ids[1:20], x -> CAST(x AS VARCHAR)), ',')
         |    ELSE '' END AS postings,
         |  d.df AS df
         |FROM d JOIN p USING (word) ORDER BY word""".stripMargin,
    "doc_editdist_next" ->
      s"""SELECT a.doc_id,
         |  levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))::BIGINT AS dist_next
         |FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    // every 2nd GENUINELY decoded GIF frame; frame_sig replays the
    // planted per-frame pixel formula v(f, i) = (d*7 + f*19 + i*11)%256
    // over the 16x9 = 144-pixel raster — a wrong frame count, order,
    // or pixel anywhere in the real decode breaks the hash
    "media_frame_sample" ->
      s"""SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
         |  CAST(list_sum(list_transform(range(144), i ->
         |    (doc_id*7 + f*19 + i*11) % 256)) AS BIGINT) AS frame_sig
         |FROM documents, LATERAL (SELECT unnest(range(0, 1 + doc_id % 9, 2)) AS f) r
         |WHERE CAST(doc_id % 3 AS INT) = 2
         |ORDER BY media_id, frame_idx""".stripMargin,
    "streaming_session_counts" ->
      s"""SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
         |  SELECT user_id,
         |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
         |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "streaming_interval_join" ->
      s"""SELECT p.event_id AS purchase_id, epoch_ms(v.ts) AS view_ms
         |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 600000
         |  AND epoch_ms(v.ts) < epoch_ms(p.ts)
         |ORDER BY purchase_id, view_ms""".stripMargin,
    "streaming_tws_user_spend" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "streaming_interval_join_outer" ->
      s"""SELECT p.event_id AS purchase_id, COALESCE(epoch_ms(v.ts), -1) AS view_ms
         |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 600000
         |  AND epoch_ms(v.ts) < epoch_ms(p.ts)
         |ORDER BY purchase_id, view_ms""".stripMargin,
    "streaming_events_sliding" ->
      s"""SELECT (epoch_ms(ts) // 300000 - i) * 300000 AS window_start_ms,
         |  event_type, count(*) AS n_events
         |FROM events, LATERAL (SELECT unnest(range(2)) AS i) r
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "streaming_static_join" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "streaming_foreachbatch_upsert" ->
      s"""SELECT user_id, ts_ms AS last_ts_ms, event_type AS last_type,
         |  CAST(round(value * 100) AS BIGINT) AS last_value_c
         |FROM (SELECT *, epoch_ms(ts) AS ts_ms, row_number() OVER (
         |        PARTITION BY user_id
         |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |      FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // v0 rows = distinct users in the even half; v1 = all users (the
    // upsert state holds one row per user seen); keep-last-1 retains
    // only the final version
    "lake_snapshot_expiry" ->
      s"""WITH v0 AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events
         |            WHERE event_id % 2 = 0),
         |v1 AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events)
         |SELECT CAST(0 AS BIGINT) AS version, v0.n AS n_rows,
         |  FALSE AS retained FROM v0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), v1.n, TRUE FROM v1
         |ORDER BY version""".stripMargin,
    "corpus_mixture_plan" ->
      s"""WITH t AS (SELECT source, CAST(len($SqlWs) AS BIGINT) AS n_tok
         |           FROM documents),
         |a AS (SELECT source, count(*)::BIGINT AS n_docs,
         |        CAST(sum(n_tok) AS BIGINT) AS tokens_avail
         |      FROM t GROUP BY 1),
         |w AS (SELECT * FROM (VALUES ('src0', 500000), ('src1', 300000),
         |        ('src2', 150000), ('src3', 50000)) AS w(source, w_ppm)),
         |p AS (SELECT a.source, n_docs, tokens_avail,
         |        CAST(w_ppm AS BIGINT) AS w_ppm,
         |        CAST(100000::BIGINT * w_ppm // 1000000 AS BIGINT) AS target_tokens
         |      FROM a JOIN w USING (source))
         |SELECT source, n_docs, tokens_avail, w_ppm, target_tokens,
         |  CAST(target_tokens * 1000000 // greatest(1, tokens_avail) AS BIGINT)
         |    AS rate_ppm,
         |  CAST((target_tokens + tokens_avail - 1) // greatest(1, tokens_avail)
         |    AS BIGINT) AS epochs
         |FROM p ORDER BY source""".stripMargin,
    // as-of v0 = the state after the FIRST micro-batch (the even
    // event_id half of the parity split) — the batch recompute the
    // snapshot read-back must equal
    "lake_time_travel" ->
      s"""SELECT user_id, ts_ms AS last_ts_ms, event_type AS last_type,
         |  CAST(round(value * 100) AS BIGINT) AS last_value_c
         |FROM (SELECT *, epoch_ms(ts) AS ts_ms, row_number() OVER (
         |        PARTITION BY user_id
         |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |      FROM events WHERE event_id % 2 = 0)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q4_order_priority" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey
         |    AND epoch_ms(l.l_shipdate) > epoch_ms(o.o_orderdate) + 2592000000)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q10_returned_cust" ->
      s"""SELECT c_custkey, c_name,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c4
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name
         |ORDER BY revenue_c4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_share" ->
      s"""SELECT
         |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
         |    CAST(round(l_extendedprice * 100) AS BIGINT)
         |      * CAST(round((1 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_c4,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_c4
         |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "orders_nation_salted_join" ->
      s"""SELECT c_nationkey,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         |  count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "bucketed_join_revenue" ->
      s"""SELECT o_orderpriority,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_lines
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "distinct_words_per_source_sketch" ->
      s"""SELECT source, count(DISTINCT word) AS n_words FROM (${sqlWords(" source,")})
         |GROUP BY source ORDER BY source""".stripMargin,
    "q7_volume" ->
      s"""SELECT supp_nation, cust_nation, yr, CAST(sum(rev_c) AS BIGINT) AS revenue_cents FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS BIGINT) AS yr,
         |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""SELECT yr,
         |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN rev_c ELSE 0 END) AS BIGINT) AS nation_cents,
         |  CAST(sum(rev_c) AS BIGINT) AS total_cents
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n1.n_name AS nation,
         |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |    JOIN region ON n2.n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_profit" ->
      s"""SELECT nation, yr, CAST(sum(rev_c) AS BIGINT) AS profit_cents FROM (
         |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN nation ON s_nationkey = n_nationkey
         |  WHERE p_name LIKE '%widget%'
         |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q12_shipdelay" ->
      s"""SELECT bucket,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM (
         |  SELECT o_orderpriority,
         |    CASE WHEN delay_days < 30 THEN 'fast' WHEN delay_days < 90 THEN 'mid' ELSE 'slow' END AS bucket
         |  FROM (SELECT o_orderpriority,
         |          (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 AS delay_days
         |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_custdist" ->
      s"""SELECT c_count, count(*) AS custdist FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
         |  GROUP BY 1)
         |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey AS suppkey,
         |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_rev_cents
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_rev_cents
         |FROM supplier JOIN rev ON s_suppkey = suppkey
         |WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty" ->
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |  JOIN (SELECT l_partkey AS apk, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sq,
         |          count(*) AS cnt FROM lineitem GROUP BY 1) a ON apk = l_partkey
         |WHERE p_brand = 'Brand#3'
         |  AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * cnt < sq""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_dormant_rich" ->
      s"""WITH bal AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
         |avg_bal AS (SELECT CAST(sum(bal_c) AS BIGINT) AS s, count(*) AS n FROM bal WHERE bal_c > 0)
         |SELECT c_nationkey, count(*) AS numcust, CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
         |FROM bal, avg_bal
         |WHERE bal_c * n > s
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q2_min_cost_supplier" ->
      s"""WITH offers AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
         |  FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 15)
         |  GROUP BY 1, 2),
         |best AS (SELECT pk AS bpk, min(cost_c) AS mc FROM offers GROUP BY 1)
         |SELECT o.pk AS p_partkey, o.sk AS s_suppkey, o.cost_c, s.s_name,
         |  CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_c, n.n_name AS nation
         |FROM offers o JOIN best b ON o.pk = b.bpk AND o.cost_c = b.mc
         |JOIN supplier s ON o.sk = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |ORDER BY bal_c DESC, p_partkey, s_suppkey LIMIT 100""".stripMargin,
    "q11_important_parts" ->
      s"""WITH val AS (
         |  SELECT l_partkey AS p_partkey,
         |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS value_c
         |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
         |  GROUP BY 1)
         |SELECT p_partkey, value_c FROM val
         |WHERE value_c * 10000 > (SELECT sum(value_c) FROM val) * 12
         |ORDER BY value_c DESC, p_partkey""".stripMargin,
    "q16_supplier_cnt" ->
      s"""SELECT p_brand, p_size // 10 AS size_bucket,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2
         |ORDER BY supplier_cnt DESC, p_brand, size_bucket""".stripMargin,
    "q20_promotion_suppliers" ->
      s"""SELECT s_suppkey, s_name FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
         |  AND s_suppkey IN (
         |    SELECT l_suppkey FROM lineitem
         |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
         |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |    GROUP BY l_suppkey
         |    HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 5000)
         |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_suppliers" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey,
         |    (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 > 365 AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'),
         |ostats AS (
         |  SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS n_supp,
         |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
         |  FROM li GROUP BY 1)
         |SELECT s_name, count(*) AS numwait FROM (
         |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
         |  FROM li l JOIN ostats o ON l.l_orderkey = o.ok
         |  WHERE l.late AND o.n_supp > 1 AND o.n_late = 1)
         |JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "events_transitions" ->
      s"""SELECT prev_type, event_type, count(*) AS cnt FROM (
         |  SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS prev_type
         |  FROM events)
         |WHERE prev_type IS NOT NULL
         |GROUP BY prev_type, event_type
         |ORDER BY cnt DESC, prev_type, event_type LIMIT 20""".stripMargin,
    "events_seq_bigrams" ->
      s"""SELECT prev_type, event_type, count(*) AS n_users FROM (
         |  SELECT DISTINCT prev_type, event_type, user_id FROM (
         |    SELECT user_id, event_type,
         |      lag(event_type) OVER (PARTITION BY user_id
         |        ORDER BY epoch_ms(ts), event_id) AS prev_type
         |    FROM events)
         |  WHERE prev_type IS NOT NULL)
         |GROUP BY 1, 2 ORDER BY n_users DESC, prev_type, event_type""".stripMargin,
    "pii_k_anonymity" ->
      s"""SELECT class_size, count(*) AS n_classes, class_size < 5 AS risky FROM (
         |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
         |  FROM customer GROUP BY 1, 2)
         |GROUP BY class_size ORDER BY class_size""".stripMargin,
    "customer_cf_neighbors" -> SqlCfNeighbors,
    // the incremental fold equals the full recompute by construction —
    // these gates share one oracle (promote serves the persisted fold)
    "customer_cf_increment" -> SqlCfNeighbors,
    "customer_cf_promote" -> SqlCfNeighbors,
    // the fold's volume diagnostic, recomputed from first principles:
    // base-split vs full CF state, their net-nonzero pair/degree
    // diffs, and the touched set (endpoints of changed pairs ∪
    // changed-degree customers ∪ holders of a full-graph pair whose
    // counterparty's degree changed — both degrees enter every score)
    "customer_cf_increment_stats" ->
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
         |    AS touched_ppm""".stripMargin,
    "events_pattern_match" ->
      s"""SELECT user_id,
         |  CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_matches
         |FROM (
         |  SELECT user_id, string_agg(substr(event_type, 1, 1), ''
         |    ORDER BY epoch_ms(ts), event_id) AS seq
         |  FROM events GROUP BY 1)
         |WHERE len(regexp_extract_all(seq, 'cv*p')) > 0
         |ORDER BY user_id""".stripMargin,
    "pii_l_diversity" ->
      s"""SELECT l_distinct, count(*) AS n_classes, l_distinct < 3 AS risky FROM (
         |  SELECT c_nationkey, c_mktsegment,
         |    count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000) AS l_distinct
         |  FROM customer GROUP BY 1, 2)
         |GROUP BY l_distinct ORDER BY l_distinct""".stripMargin,
    // format-proof round-trip: the blob dir is BUILT from documents,
    // so the oracle never touches the filesystem
    "binaryfile_roundtrip" ->
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  md5(text) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "csv_corrupt_records" ->
      s"""SELECT count(*) AS n_rows,
         |  count(*) FILTER (WHERE doc_id % 7 = 0) AS n_bad,
         |  CAST(sum(doc_id) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_good_ids,
         |  CAST(sum(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_good_nchars
         |FROM documents""".stripMargin,
    // the bloom prefilter is a pure performance device — the verify
    // semi-join makes the result the plain semi-join answer
    "bloom_semi_join" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // scaled-integer distances (round(x·1e6) bigints) make argmin and
    // sums bit-exact on both engines — no float summation anywhere
    "kmeans_assign" ->
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
         |SELECT vec_id, cluster, d2 FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "kmeans_step" ->
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
         |FROM ex GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin,
    "kmeans_converged" ->
      s"""${sqlKmeansCents(8, 5)}
         |SELECT cluster, CAST(r.i AS BIGINT) AS dim, cv[r.i] AS v
         |FROM c5, LATERAL (SELECT unnest(range(1, len(cv) + 1)) AS i) r
         |ORDER BY cluster, dim""".stripMargin,
    "ann_ivf_kmeans" ->
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
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // multi-probe: queries rank candidates from their TWO nearest
    // cells; candidates still join through their unique home cell
    "ann_ivf_multiprobe" ->
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
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the persisted-index path computes the same centroids, cells and
    // ranking — identical result by construction, same oracle
    "ann_ivf_disk" ->
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
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // incremented index: Lloyd runs on the BASE 80% of vec_ids only
    // (the frozen quantizer), assignment spans all vectors — exactly
    // the state base-build + append must reach
    "ann_ivf_increment" -> SqlAnnIncTopk,
    // compaction rewrites the same rows — the probe answer is the
    // increment answer, so the gates share one oracle
    "ann_index_compact" -> SqlAnnIncTopk,
    "ann_increment_drift" -> SqlAnnDrift,
    // the maintenance decision is a pure function of the drift row
    "ann_maintain" ->
      s"""SELECT *, CASE WHEN rebuild_due THEN 'rebuild' ELSE 'keep' END
         |  AS action
         |FROM ($SqlAnnDrift) t""".stripMargin,
    // recall of the rebuilt (= full-corpus-retrained) IVF vs brute
    // force: the kmeans-cell twin of ann_recall_report's sign-LSH form
    "ann_rebuild_recall" ->
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
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "benford_audit" ->
      s"""WITH c AS (
         |  SELECT CAST(left(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
         |      AS VARCHAR), 1) AS BIGINT) AS first_digit,
         |    count(*)::BIGINT AS n
         |  FROM orders GROUP BY 1),
         |e(first_digit, exp_ppm) AS (VALUES ${operators.Relational.BenfordTable
            .map { case (d, p) => s"($d, $p)" }.mkString(", ")})
         |SELECT c.first_digit, n,
         |  CAST(n * 1000000 // tot AS BIGINT) AS obs_ppm,
         |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
         |  CAST(abs(n * 1000000 // tot - exp_ppm) AS BIGINT) AS dev_ppm
         |FROM c CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c) t
         |JOIN e ON e.first_digit = c.first_digit
         |ORDER BY c.first_digit""".stripMargin,
    "events_markov_stationary" -> markovOracle(15),
    "events_value_bin_lift" ->
      s"""WITH per AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS bin,
         |    count(*)::BIGINT AS n,
         |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_err
         |  FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
         |  CAST(sum(n_err) AS BIGINT) AS tot_err FROM per)
         |SELECT bin, n, n_err,
         |  CAST((n_err * 1000000) // n AS BIGINT) AS err_ppm,
         |  CAST(((n_err * 1000000) // n) * 1000000
         |    // greatest(1, (tot_err * 1000000) // tot) AS BIGINT) AS lift_ppm
         |FROM per CROSS JOIN t ORDER BY bin""".stripMargin,
    "multi_keyword_tag" ->
      s"""SELECT doc_id, count(*)::BIGINT AS n_matched,
         |  string_agg(word, ',' ORDER BY word) AS matched
         |FROM (SELECT DISTINCT doc_id, word FROM (${sqlWords(" doc_id,")})
         |  WHERE word IN (${TagKeywords.map(w => s"'$w'").mkString(", ")}))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "parquet_bloom_scan" ->
      s"""SELECT l_partkey, count(*)::BIGINT AS n_lines,
         |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         |    AS qty_c,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |    AS price_c
         |FROM lineitem WHERE l_partkey = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "word_sssp" -> ssspOracle(6),
    "orders_concurrency" ->
      s"""WITH closed AS (SELECT l_orderkey AS o_orderkey,
         |    max(epoch_ms(l_shipdate) // 86400000) AS close_day
         |  FROM lineitem GROUP BY 1),
         |spans AS (SELECT o.o_orderkey,
         |    epoch_ms(o_orderdate) // 86400000 AS open_day, close_day
         |  FROM orders o JOIN closed USING (o_orderkey)),
         |net AS (SELECT epoch_day, CAST(sum(delta) AS BIGINT) AS net FROM (
         |    SELECT open_day AS epoch_day, 1 AS delta FROM spans
         |    UNION ALL SELECT close_day + 1, -1 FROM spans) GROUP BY 1)
         |SELECT epoch_day, CAST(sum(net) OVER (ORDER BY epoch_day
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
         |FROM net ORDER BY n_open DESC, epoch_day LIMIT 10""".stripMargin,
    "events_ks_drift" ->
      s"""WITH per AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS na_v,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nb_v
         |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
         |c AS (SELECT v,
         |    CAST(sum(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS ca,
         |    CAST(sum(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cb
         |  FROM per),
         |t AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
         |    CAST(sum(nb_v) AS BIGINT) AS n_b FROM per)
         |SELECT v AS at_cents, n_a, n_b,
         |  CAST(abs((ca * 1000000) // n_a - (cb * 1000000) // n_b)
         |    AS BIGINT) AS d_ppm
         |FROM c CROSS JOIN t
         |ORDER BY d_ppm DESC, at_cents LIMIT 1""".stripMargin,
    "doc_quota_split" ->
      s"""SELECT lang, split, count(*)::BIGINT AS n_docs FROM (
         |  SELECT lang, CASE
         |      WHEN rk <= (n * 8) // 10 THEN 'train'
         |      WHEN rk <= (n * 9) // 10 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM (SELECT lang,
         |      row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id)
         |        AS rk,
         |      count(*) OVER (PARTITION BY lang) AS n
         |    FROM (SELECT doc_id, lang, list_sum(list_transform(range(15), i ->
         |        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |          << (4*(14-i)))) AS pri
         |      FROM documents)))
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "part_itemsets3" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS p
         |  FROM lineitem),
         |fi AS (SELECT oid, p FROM items WHERE p IN (
         |  SELECT p FROM items GROUP BY p HAVING count(*) >= 2))
         |SELECT a.p AS p1, b.p AS p2, c.p AS p3,
         |  count(*)::BIGINT AS support
         |FROM fi a JOIN fi b ON a.oid = b.oid AND a.p < b.p
         |  JOIN fi c ON b.oid = c.oid AND b.p < c.p
         |GROUP BY 1, 2, 3 HAVING count(*) >= 2
         |ORDER BY support DESC, p1, p2, p3 LIMIT 20""".stripMargin,
    "events_seasonal_dow" ->
      s"""WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
         |    count(*)::BIGINT AS n FROM events GROUP BY 1),
         |m AS (SELECT epoch_day, n, count(*) OVER w AS wn,
         |    CAST(sum(n * 1000) OVER w AS BIGINT) AS wsum
         |  FROM daily WINDOW w AS (ORDER BY epoch_day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         |SELECT dow, count(*)::BIGINT AS n_days,
         |  CAST(sum(detr) // count(*) AS BIGINT) AS seasonal_x1000
         |FROM (SELECT epoch_day % 7 AS dow, n * 1000 - wsum // 7 AS detr
         |  FROM m WHERE wn = 7)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_user_streaks" ->
      s"""WITH days AS (SELECT DISTINCT user_id,
         |    epoch_ms(ts) // 86400000 AS epoch_day FROM events),
         |isl AS (SELECT user_id,
         |    epoch_day - row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_day) AS island
         |  FROM days)
         |SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak FROM (
         |  SELECT user_id, island, count(*)::BIGINT AS len FROM isl
         |  GROUP BY 1, 2)
         |GROUP BY 1 ORDER BY best_streak DESC, user_id LIMIT 20""".stripMargin,
    "events_debounce" ->
      s"""SELECT event_type,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped
         |FROM (SELECT event_type,
         |    (prev_ts IS NULL OR ts_b - prev_ts > 5000) AS kept
         |  FROM (SELECT event_type, epoch_ms(ts) AS ts_b, event_id,
         |      lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
         |        ORDER BY epoch_ms(ts), event_id) AS prev_ts
         |    FROM events))
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_exact_median" ->
      s"""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events),
         |t AS (SELECT count(*)::BIGINT AS n FROM c),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM c)
         |SELECT n, v AS median_cents FROM r, t
         |WHERE rk = (n + 1) // 2""".stripMargin,
    "supplier_herfindahl" ->
      s"""WITH rev AS (SELECT s_nationkey, l.s_suppkey, rev_c FROM (
         |    SELECT l_suppkey AS s_suppkey, CAST(sum(CAST(round(
         |        l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         |      AS BIGINT) AS rev_c
         |    FROM lineitem GROUP BY 1) l
         |  JOIN supplier s ON l.s_suppkey = s.s_suppkey),
         |tot AS (SELECT s_nationkey, CAST(sum(rev_c) AS BIGINT) AS tot_c
         |  FROM rev GROUP BY 1)
         |SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
         |  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi
         |FROM (SELECT rev.s_nationkey,
         |    (rev_c * 1000000) // tot_c AS share_ppm
         |  FROM rev JOIN tot USING (s_nationkey)) sh
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "kmeans_silhouette" ->
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
         |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin,
    "parts_skyline" ->
      s"""WITH per AS (SELECT CAST(p_size AS BIGINT) AS p_size,
         |    min(CAST(round(p_retailprice * 100) AS BIGINT)) AS min_price_c
         |  FROM part GROUP BY 1)
         |SELECT p_size, min_price_c FROM (
         |  SELECT p_size, min_price_c, min(min_price_c) OVER (
         |      ORDER BY p_size
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS prior_min
         |  FROM per)
         |WHERE prior_min IS NULL OR min_price_c < prior_min
         |ORDER BY p_size""".stripMargin,
    "word_diameter_2sweep" ->
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
         |  (SELECT dist FROM f2) AS diameter_lb""".stripMargin,
    "events_percentile_grid" ->
      s"""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events),
         |t AS (SELECT count(*)::BIGINT AS n FROM c),
         |kk AS (SELECT CAST(q AS BIGINT) AS q, n, (n * q + 99) // 100 AS k
         |  FROM t, (VALUES (25), (50), (75), (90), (99)) AS qv(q)),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM c)
         |SELECT q, n, v AS value_cents FROM r JOIN kk ON rk = kk.k
         |ORDER BY q""".stripMargin,
    "word_ktruss_edges" -> ktrussOracle(2, 3),
    "events_session_sensitivity" ->
      s"""WITH g AS (SELECT user_id, epoch_ms(ts) AS tm, event_id,
         |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS prev
         |  FROM events),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN prev IS NULL OR tm - prev > 600000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS s10,
         |    CAST(sum(CASE WHEN prev IS NULL OR tm - prev > 1800000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS s30,
         |    CAST(sum(CASE WHEN prev IS NULL OR tm - prev > 3600000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS s60
         |  FROM g)
         |SELECT CAST(10 AS BIGINT) AS gap_min, s10 AS n_sessions FROM a
         |UNION ALL SELECT 30, s30 FROM a
         |UNION ALL SELECT 60, s60 FROM a ORDER BY gap_min""".stripMargin,
    "emb_cluster_drift" ->
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
         |FROM g CROSS JOIN t ORDER BY cell""".stripMargin,
    "doc_hapax_ratio" ->
      s"""WITH c AS (SELECT doc_id, word, count(*)::BIGINT AS c
         |  FROM (${sqlWords(" doc_id,")}) GROUP BY 1, 2),
         |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, n_hapax,
         |  n_hapax * 1000000 // n_tokens AS ratio_ppm
         |FROM g ORDER BY doc_id""".stripMargin,
    "segment_brand_lift" ->
      """WITH r AS (SELECT c.c_mktsegment AS segment, p.p_brand AS brand
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |sb AS (SELECT segment, brand, count(*)::BIGINT AS n_sb
        |  FROM r GROUP BY 1, 2),
        |s AS (SELECT segment, CAST(sum(n_sb) AS BIGINT) AS n_s
        |  FROM sb GROUP BY 1),
        |b AS (SELECT brand, CAST(sum(n_sb) AS BIGINT) AS n_b
        |  FROM sb GROUP BY 1),
        |t AS (SELECT CAST(sum(n_sb) AS BIGINT) AS n_total FROM sb)
        |SELECT sb.segment, sb.brand, sb.n_sb,
        |  n_sb * n_total * 1000000 // (n_s * n_b) AS lift_ppm
        |FROM sb JOIN s USING (segment) JOIN b USING (brand) CROSS JOIN t
        |ORDER BY segment, brand""".stripMargin,
    "events_stl_decompose" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, epoch_day, cnt,
        |    CAST(quantile_cont(cnt * 2, 0.5) OVER (PARTITION BY event_type
        |      ORDER BY epoch_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS t2
        |  FROM d),
        |dd AS (SELECT *, 2 * cnt - t2 AS d2, (epoch_day + 4) % 7 AS dow
        |  FROM t),
        |s AS (SELECT event_type, dow,
        |    CAST(quantile_cont(d2 * 2, 0.5) AS BIGINT) AS s4
        |  FROM dd GROUP BY 1, 2)
        |SELECT dd.event_type, dd.epoch_day, dd.cnt, dd.t2, s.s4,
        |  2 * dd.d2 - s.s4 AS r4
        |FROM dd JOIN s ON dd.event_type = s.event_type AND dd.dow = s.dow
        |ORDER BY dd.event_type, dd.epoch_day""".stripMargin,
    "customer_recommendations" ->
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
         |FROM rr WHERE rnk <= 3 ORDER BY custkey, rank""".stripMargin,
    // the recommender CTE chain replayed over the train split (latest
    // order per customer anti-joined away), then hits vs the held-out
    // baskets
    "customer_rec_eval" ->
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
         |FROM a""".stripMargin,
    "events_rolling_median_7d" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2)
        |SELECT event_type, epoch_day, cnt,
        |  CAST(quantile_cont(cnt * 2, 0.5) OVER (PARTITION BY event_type
        |    ORDER BY epoch_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS med2_7d
        |FROM d ORDER BY event_type, epoch_day""".stripMargin,
    "orders_seasonality_index" ->
      """WITH m AS (SELECT month(cast(o_orderdate AS timestamp)) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM m)
        |SELECT m, rev_cents, rev_cents * 12 * 1000000 // total AS index_ppm
        |FROM m CROSS JOIN t ORDER BY m""".stripMargin,
    "events_coactivity_pairs" ->
      """WITH uw AS MATERIALIZED (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 600000 AS w FROM events),
        |kept AS (SELECT w FROM uw GROUP BY 1 HAVING count(*) <= 1000),
        |pr AS MATERIALIZED (SELECT uw.user_id, uw.w
        |  FROM uw JOIN kept USING (w))
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  count(*)::BIGINT AS n_windows
        |FROM pr a JOIN pr b ON a.w = b.w AND a.user_id < b.user_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY n_windows DESC, user_a, user_b LIMIT 20""".stripMargin,
    "index_increment" ->
      s"""WITH p AS MATERIALIZED (SELECT DISTINCT doc_id, word
         |  FROM (${sqlWords(" doc_id,")})),
         |inc AS MATERIALIZED (SELECT * FROM p WHERE doc_id > 250),
         |t AS (SELECT DISTINCT word FROM inc),
         |b AS (SELECT word, count(*)::BIGINT AS df_base FROM p
         |  WHERE doc_id <= 250 AND word IN (SELECT word FROM t)
         |  GROUP BY 1),
         |d AS (SELECT word, count(*)::BIGINT AS df_delta FROM inc
         |  GROUP BY 1)
         |SELECT d.word, coalesce(b.df_base, 0) AS df_base, d.df_delta,
         |  coalesce(b.df_base, 0) + d.df_delta AS df_total
         |FROM d LEFT JOIN b USING (word) ORDER BY word""".stripMargin,
    "events_gap_regularity" ->
      """WITH g AS (SELECT user_id,
        |    (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id)) // 1000 AS g
        |  FROM events),
        |m AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(g * g) AS BIGINT) AS sum_gg
        |  FROM g WHERE g IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps, sum_g // n_gaps AS mean_gap_s,
        |  (n_gaps * sum_gg - sum_g * sum_g)
        |    // greatest(1, (sum_g * sum_g) // 1000000) AS cv2_ppm
        |FROM m WHERE sum_g > 0 ORDER BY user_id""".stripMargin,
    // exact mirror of the sketch's below-k contract: set counts over
    // the same planted corpus
    "vocab_jaccard_sketch" ->
      s"""WITH docs2 AS (
         |  SELECT lang, text FROM documents
         |  UNION ALL SELECT 'en', 'graftplanted graftsingleton'),
         |en AS (SELECT DISTINCT word
         |  FROM (${sqlWords(where = " WHERE lang = 'en'", from = "docs2")})),
         |de AS (SELECT DISTINCT word
         |  FROM (${sqlWords(where = " WHERE lang = 'de'", from = "docs2")})),
         |s AS (SELECT (SELECT count(*) FROM en)::BIGINT AS n_en,
         |  (SELECT count(*) FROM de)::BIGINT AS n_de,
         |  (SELECT count(*) FROM en JOIN de USING (word))::BIGINT AS n_shared)
         |SELECT n_en, n_de, n_shared,
         |  CASE WHEN n_en + n_de - n_shared = 0 THEN 0
         |       ELSE n_shared * 1000000 // (n_en + n_de - n_shared)
         |  END AS jaccard_ppm FROM s""".stripMargin,
    // unrolled 3-hop multi-source BFS; MATERIALIZED per round (each
    // d$i is referenced twice by d${i+1})
    "part_closeness" ->
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
        |FROM d3 GROUP BY 1 ORDER BY 1""".stripMargin,
    "pii_t_closeness" ->
      """WITH cb AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS band,
        |    count(*)::BIGINT AS cnt FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT band, CAST(sum(cnt) AS BIGINT) AS gcnt
        |  FROM cb GROUP BY 1),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(cnt) AS BIGINT) AS class_n FROM cb GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS total_n,
        |    count(*)::BIGINT AS m FROM g),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_n,
        |    g.band, g.gcnt, coalesce(cb.cnt, 0) AS cnt
        |  FROM cls CROSS JOIN g LEFT JOIN cb
        |    ON cb.c_nationkey = cls.c_nationkey
        |    AND cb.c_mktsegment = cls.c_mktsegment AND cb.band = g.band),
        |c2 AS (SELECT *,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS cum,
        |    CAST(sum(gcnt) OVER w AS BIGINT) AS gcum
        |  FROM grid WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY band ROWS UNBOUNDED PRECEDING))
        |SELECT c_nationkey, c_mktsegment, class_n,
        |  CAST(sum(abs(cum * total_n - gcum * class_n)) * 1000000
        |    // (max(class_n) * max(total_n) * (max(m) - 1)) AS BIGINT)
        |    AS emd_ppm,
        |  CAST(sum(abs(cum * total_n - gcum * class_n)) * 1000000
        |    // (max(class_n) * max(total_n) * (max(m) - 1)) AS BIGINT)
        |    > 250000 AS risky
        |FROM c2 CROSS JOIN tot
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,
    "events_since_last_error" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_type
        |  FROM events),
        |r AS (SELECT user_id, max(CASE WHEN event_type = 'error'
        |    THEN ts_ms END) AS reset_ms FROM e GROUP BY 1)
        |SELECT e.user_id,
        |  CAST(sum(CASE WHEN reset_ms IS NULL OR ts_ms > reset_ms
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_since,
        |  CAST(sum(CASE WHEN reset_ms IS NULL OR ts_ms > reset_ms
        |    THEN cents ELSE 0 END) AS BIGINT) AS cents_since
        |FROM e JOIN r USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same fixed-point BM25 pipeline as doc_bm25_topk, plus the tf-sum
    // ranker and the rank-space fusion
    "doc_hybrid_rrf" ->
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
         |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,
    "word_zipf_slope" ->
      s"""WITH c AS (SELECT word, count(*)::BIGINT AS cnt
         |  FROM (${sqlWords()}) GROUP BY 1),
         |xy AS (SELECT
         |    CAST(length(bin(row_number()
         |      OVER (ORDER BY cnt DESC, word))) - 1 AS BIGINT) AS x,
         |    CAST(length(bin(cnt)) - 1 AS BIGINT) AS y FROM c)
         |SELECT count(*)::BIGINT AS n_words,
         |  CAST((count(*) * sum(x * y) - sum(x) * sum(y)) * 1000000
         |    // greatest(1, count(*) * sum(x * x) - sum(x) * sum(x)) AS BIGINT)
         |    AS slope_micro
         |FROM xy""".stripMargin,
    // brute ε-join mirror of the grid DBSCAN (the grid is a pruning,
    // not a semantics change); MATERIALIZED everywhere — nb is
    // referenced four times and the reach CTE rides ce
    "emb_dbscan" ->
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
        |ORDER BY vec_id""".stripMargin,
    "customer_interorder_gaps" ->
      s"""SELECT (open_day - prev) // 7 AS gap_weeks,
         |  count(*)::BIGINT AS n_gaps FROM (
         |  SELECT o_custkey,
         |    epoch_ms(o_orderdate) // 86400000 AS open_day,
         |    lag(epoch_ms(o_orderdate) // 86400000) OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY epoch_ms(o_orderdate) // 86400000, o_orderkey)
         |      AS prev
         |  FROM orders)
         |WHERE prev IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
  )

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

  /** Unrolled power iteration for `events_markov_stationary` — the
    * recursive term would need aggregation (disallowed in a recursive
    * CTE), so the fixed, small iteration count is generated as chained
    * CTEs. Per-term floored ppm products mirror
    * [[operators.Relational.markovStationary]] exactly.
    */
  private def markovOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""m$i AS (SELECT next_type AS event_type,
         |  CAST(sum((mass_ppm * p_ppm) // 1000000) AS BIGINT) AS mass_ppm
         |  FROM m${i - 1} JOIN p ON m${i - 1}.event_type = p.prev_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (
       |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS cnt
       |  FROM (SELECT event_type, lag(event_type) OVER (
       |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
       |      AS prev_type FROM events)
       |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |p AS (SELECT tr.prev_type, next_type,
       |    CAST((cnt * 1000000) // t AS BIGINT) AS p_ppm
       |  FROM tr JOIN (SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS t
       |    FROM tr GROUP BY 1) tot USING (prev_type)),
       |m0 AS (SELECT event_type, CAST(1000000 // (SELECT count(*)
       |    FROM (SELECT DISTINCT event_type FROM events)) AS BIGINT)
       |    AS mass_ppm
       |  FROM (SELECT DISTINCT event_type FROM events)),
       |$steps
       |SELECT event_type, mass_ppm FROM m$iters ORDER BY event_type""".stripMargin
  }
}
