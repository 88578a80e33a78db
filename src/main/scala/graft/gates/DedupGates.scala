package graft
package gates

import graft.operators.{Dedup, Similarity, TextAnalysis, WordCount}
import OracleSql.{
  SqlWs, SqlSymbolPattern, sqlWords, sqlShingles, SqlShingles,
  sqlCrossDocCtes, sqlJaccard, sqlList, sqlD2, sqlKmeansCents, sqlMd5Big}

/** Near-duplicate detection: exact and fuzzy pairs, shingle Jaccard,
  * MinHash/SimHash, winnowing, cross-document spans, connected
  * components over duplicate pairs, incremental and indexed forms,
  * decontamination and the HLL distinct-shingle summary.
  */
object DedupGates {

  private val SqlCrossDocCtes = sqlCrossDocCtes()

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

  private lazy val SqlDedupNgramJaccard =
    sqlJaccard(4, 5)

  private lazy val SqlDedupComponents =
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
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val SqlDedupIncrement =
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
       |FROM drops ORDER BY doc_id""".stripMargin

  private[gates] lazy val SqlDedupWinnowIncrement =
    s"""WITH $SqlWinnowCtes,
       |e AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
       |p AS (SELECT n.doc_id AS new_id, b.doc_id AS base_id,
       |        count(*)::BIGINT AS shared
       |      FROM (SELECT * FROM e WHERE doc_id > 250) n
       |      JOIN (SELECT * FROM e WHERE doc_id <= 250) b USING (f)
       |      GROUP BY 1, 2)
       |SELECT new_id, base_id, shared FROM p WHERE shared >= 3
       |ORDER BY new_id, base_id""".stripMargin

  private[gates] lazy val SqlDistinctShinglesHll = {
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
  }

  val gates: Seq[Gate] = Seq(
    // entity resolution: blocked candidates + banded edit-distance
    // verify; the d = 1 pair set is STAGED (3 consumer gates)
    Gate("fuzzy_name_pairs", (s, dir) =>
      graft.sources.DedupStage.fuzzyPairs(s, dir).orderBy("id_a", "id_b"),
      s"""SELECT a.c_custkey AS id_a, c.c_custkey AS id_b,
         |  CAST(levenshtein(a.c_name, c.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer c
         |  ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |WHERE levenshtein(a.c_name, c.c_name) <= 1
         |ORDER BY id_a, id_b""".stripMargin),
    // lev <= 2 via the k-deletion SymSpell neighborhood (C(len,2)
    // variants) — single consumer, deliberately NOT staged
    Gate("fuzzy_name_pairs_d2", (s, dir) =>
      Dedup.blockedFuzzyPairs(Tables.customer(s, dir), maxDist = 2),
      s"""SELECT a.c_custkey AS id_a, c.c_custkey AS id_b,
         |  CAST(levenshtein(a.c_name, c.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer c
         |  ON a.c_nationkey = c.c_nationkey AND a.c_custkey < c.c_custkey
         |WHERE levenshtein(a.c_name, c.c_name) <= 2
         |ORDER BY id_a, id_b""".stripMargin),
    // ...and the full ER story: cluster the verified pairs (block ->
    // verify -> cluster); star CC, not propagation: the digit-
    // substitution name graph builds deep chain components (measured
    // 8.0 s propagating at sf0.1 vs ~3.5 s in log rounds — NOTES r5)
    Gate("fuzzy_entity_clusters", (s, dir) => {
      import org.apache.spark.sql.functions.col
      graft.sources.DedupStage.fuzzyClusters(s, dir)
        .orderBy("custkey")
    },
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("dedup_dup_spans", (s, dir) =>
      Dedup.dupSpanRatio(Tables.documents(s, dir), w = 8),
      s"""WITH sp AS (${sqlShingles(8, distinct = false)}),
         |c AS (SELECT shingle, count(*)::BIGINT AS c FROM sp GROUP BY 1),
         |per AS (SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
         |        CAST(count(*) FILTER (WHERE c.c >= 2) AS BIGINT) AS n_dup_spans
         |        FROM sp JOIN c USING (shingle) GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  n_dup_spans * 1000 // n_spans AS dup_ratio_x1000
         |FROM per ORDER BY doc_id""".stripMargin),
    Gate("dedup_crossdoc_spans", (s, dir) =>
      graft.sources.DedupStage.islands(s, dir)
        .orderBy("doc_id", "tok_start"),
      s"""WITH $SqlCrossDocCtes
         |SELECT doc_id, tok_start, tok_end, n_windows FROM isl
         |ORDER BY doc_id, tok_start""".stripMargin),
    Gate("dedup_cut_spans", (s, dir) =>
      Dedup.cutSpans(Tables.documents(s, dir),
        graft.sources.DedupStage.islands(s, dir)),
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
         |ORDER BY d.doc_id""".stripMargin),
    Gate("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir)),
      s"""SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
    // the brute-force truth anchor; its verified pair set is STAGED
    // once per (session, dir) and shared by every rollup gate below —
    // the r13 bench-budget fix (same derivation, paid once)
    Gate("dedup_ngram_jaccard", (s, dir) =>
      graft.sources.DedupStage.pairs(s, dir).orderBy("id_a", "id_b"),
      SqlDedupNgramJaccard),
    // lossless prefix-filtered Jaccard (PPJoin): same answer as the
    // brute inverted-index join, candidates from rarest-first prefixes
    Gate("dedup_prefix_filter", (s, dir) =>
      Dedup.prefixFilterPairs(Tables.documents(s, dir), n = 3, num = 4, den = 5),
      // prefix filtering is LOSSLESS — the oracle is the brute join
      SqlDedupNgramJaccard),
    Gate("dedup_minhash", (s, dir) =>
      graft.sources.DedupStage.minhashPairs(s, dir).orderBy("id_a", "id_b"),
      // the LSH path converges to the exact pairs after verification
      SqlDedupNgramJaccard),
    Gate("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxDist = 3),
      // brute-force pairs over the same 60-bit md5-prefix token hash and
      // sign-sum simhash the Spark side computes (banding is the scale
      // path; the oracle checks the exact pair set it must converge to)
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
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("dedup_keep_list", (s, dir) =>
      Dedup.keepList(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir)),
      s"""WITH pairs AS (${sqlJaccard(4, 5)}),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT doc_id FROM reps
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
         |ORDER BY doc_id""".stripMargin),
    Gate("doc_repetition", (s, dir) =>
      Dedup.repetitionStats(Tables.documents(s, dir), n = 3),
      s"""SELECT doc_id, count(*) AS n_grams,
         |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_grams
         |FROM (${sqlShingles(3, distinct = false)})
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the three components gates each exercise their OWN algorithm
    // (propagation / star contraction / adaptive) over the staged pair
    // set; the rollup gates below share the staged LABELS frame, since
    // every CC variant converges to the same min-id fixed point
    Gate("dedup_components", (s, dir) =>
      Dedup.components(graft.sources.DedupStage.pairs(s, dir)),
      SqlDedupComponents),
    // the O(log n)-round star-contraction form, same fixed point
    Gate("dedup_components_star", (s, dir) =>
      Dedup.componentsStar(graft.sources.DedupStage.pairs(s, dir)),
      // star contraction reaches the same fixed point
      SqlDedupComponents),
    // the adaptive front door itself, gated against the same CC oracle
    // with propRounds = 1 so the contraction fallback path is the one
    // under test at every scale factor (the sf graphs converge fast)
    Gate("dedup_components_adaptive", (s, dir) =>
      Dedup.componentsAdaptive(graft.sources.DedupStage.pairs(s, dir),
        propRounds = 1),
      SqlDedupComponents),
    Gate("dedup_keep_list_cc", (s, dir) =>
      Dedup.keepListCC(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir)),
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
         |ORDER BY doc_id""".stripMargin),
    // per-cluster QUALITY argmax instead of the id-order root
    Gate("dedup_keep_best_quality", (s, dir) =>
      Dedup.keepBestQuality(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir)),
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
         |ORDER BY doc_id""".stripMargin),
    // nightly-increment dedup: incoming docs vs base, base never re-paired
    Gate("dedup_increment", (s, dir) =>
      Dedup.dedupIncrement(Tables.documents(s, dir), baseMaxId = 250,
        n = 3, b = 32, r = 4, num = 4, den = 5),
      SqlDedupIncrement),
    // ...and the same report probing the PERSISTED bucketed index:
    // base indexed once per (SparkContext, dir), increments pay only their
    // own computation — equivalent by construction, shared oracle
    Gate("dedup_increment_indexed", (s, dir) =>
      graft.sources.DedupIndex.incrementReport(s, dir, baseMaxId = 250),
      SqlDedupIncrement),
    Gate("decontaminate", (s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir), benchMaxId = 50, n = 8),
      s"""SELECT c.doc_id, count(*) AS n_shared_grams
         |FROM (${sqlShingles(8, where = " WHERE doc_id > 50")}) c
         |JOIN (SELECT DISTINCT shingle
         |      FROM (${sqlShingles(8, where = " WHERE doc_id <= 50")})) b
         |  USING (shingle)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // memorization/curation signal: per new doc, how many of its
    // 8-grams the base corpus already contains (novel fraction, ppm)
    Gate("doc_novelty", (s, dir) =>
      Dedup.noveltyReport(Tables.documents(s, dir), baseMaxId = 250L, n = 8),
      s"""WITH nb AS (SELECT DISTINCT shingle FROM (${sqlShingles(8, distinct = true, " WHERE doc_id <= 250")})),
         |ng AS (${sqlShingles(8, distinct = true, " WHERE doc_id > 250")})
         |SELECT ng.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN nb.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_seen,
         |  CAST((count(*) - sum(CASE WHEN nb.shingle IS NOT NULL THEN 1 ELSE 0 END))
         |    * 1000000 // greatest(1, count(*)) AS BIGINT) AS novelty_ppm
         |FROM ng LEFT JOIN nb ON ng.shingle = nb.shingle
         |GROUP BY ng.doc_id ORDER BY ng.doc_id""".stripMargin),
    Gate("decontaminate_strict", (s, dir) =>
      Dedup.decontaminateStrict(Tables.documents(s, dir), benchMaxId = 50, n = 8),
      s"""SELECT doc_id FROM documents WHERE doc_id > 50
         |  AND doc_id NOT IN (
         |    SELECT DISTINCT c.doc_id
         |    FROM (${sqlShingles(8, where = " WHERE doc_id > 50")}) c
         |    JOIN (SELECT DISTINCT shingle
         |          FROM (${sqlShingles(8, where = " WHERE doc_id <= 50")})) b
         |      USING (shingle))
         |ORDER BY doc_id""".stripMargin),
    // the filter VERDICT table: per-doc reason bitmask (gopher=1,
    // exact-dup copy=2, contaminated=4, near-dup drop=8) + keep flag
    Gate("corpus_filter_report", (s, dir) =>
      Dedup.corpusFilterReport(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir)),
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
         |ORDER BY g.doc_id""".stripMargin),
    // ratio-based "dirty doc" rule: ≥30% of a doc's 3-grams in-benchmark
    Gate("decontaminate_fuzzy", (s, dir) =>
      Dedup.decontaminateFuzzy(Tables.documents(s, dir), benchMaxId = 50,
        n = 3, thrX1000 = 300),
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
         |ORDER BY doc_id""".stripMargin),
    // asymmetric containment over corpus + planted half-docs: the
    // plants sit at containment ≈ 1.0 but Jaccard ≈ 0.5, so this set
    // strictly exceeds what any jaccard gate can see
    Gate("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(Dedup.plantHalfDocs(Tables.documents(s, dir)),
        n = 4, num = 9, den = 10),
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
         |ORDER BY id_a, id_b""".stripMargin),
    // the full scale path: LSH candidates → exact verify → connected
    // components (same recursive-CTE oracle as dedup_components, since
    // verified minhash pairs converge to the exact jaccard pair set);
    // adaptive front door: propagation speed on shallow graphs, star
    // contraction bound when the diameter runs away — the 100 TB shape
    Gate("dedup_components_minhash", (s, dir) =>
      Dedup.componentsAdaptive(
        graft.sources.DedupStage.minhashPairs(s, dir)),
      SqlDedupComponents),
    // first-appearance novelty profile over 3-gram shingles
    Gate("doc_ngram_novelty", (s, dir) =>
      graft.operators.Dedup.ngramNovelty(Tables.documents(s, dir), n = 3),
      // a shingle is novel in exactly the doc where it first appears
      s"""WITH sh AS ($SqlShingles),
         |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM sh GROUP BY 1),
         |nv AS (SELECT sh.doc_id, count(*)::BIGINT AS n_novel
         |       FROM sh JOIN f ON sh.shingle = f.shingle
         |       WHERE sh.doc_id = f.first_doc GROUP BY 1)
         |SELECT tot.doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
         |  coalesce(n_novel, 0) * 1000 // n_grams AS novelty_x1000
         |FROM tot LEFT JOIN nv ON tot.doc_id = nv.doc_id
         |ORDER BY tot.doc_id""".stripMargin),
    // dedup tuning sweep: candidate pairs surviving 0.7/0.8/0.9
    Gate("dedup_threshold_sweep", (s, dir) =>
      Dedup.thresholdSweep(Tables.documents(s, dir), n = 3),
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
         |FROM f""".stripMargin),
    // dedup observability: near-dup cluster-size histogram
    Gate("dedup_cluster_sizes", (s, dir) =>
      Dedup.clusterSizeHistogram(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-source exact-dup observability rollup
    Gate("dedup_stats_by_source", (s, dir) =>
      Dedup.dupStatsBySource(Tables.documents(s, dir)),
      """SELECT source, n_docs, n_distinct,
        |  (n_docs - n_distinct) * 1000000 // n_docs AS dup_ppm FROM (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    count(DISTINCT md5(text))::BIGINT AS n_distinct
        |  FROM documents GROUP BY 1)
        |ORDER BY source""".stripMargin),
    Gate("doc_editdist_next", (s, dir) =>
      TextAnalysis.editDistanceToNext(Tables.documents(s, dir)),
      s"""SELECT a.doc_id,
         |  levenshtein(substr(a.text, 1, 128), substr(b.text, 1, 128))::BIGINT AS dist_next
         |FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
         |ORDER BY a.doc_id""".stripMargin),
    // SemDeDup: k-means cells bound the pairwise-cosine dedup quadratic;
    // keep-list drops any vector with a similar lower-id cell-mate
    Gate("semdedup_keep", (s, dir) =>
      Similarity.semDedupKeep(s, dir, threshold = 0.45),
      // same converged-centroid chain as ann_ivf_kmeans; the dedup drops
      // any vector with a cosine-similar LOWER-id vector in its own cell
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
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id""".stripMargin),
    // nightly increment of the inverted index: touched-term df deltas
    Gate("index_increment", (s, dir) =>
      TextAnalysis.indexIncrement(Tables.documents(s, dir), baseMaxId = 250),
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
         |FROM d LEFT JOIN b USING (word) ORDER BY word""".stripMargin),
    // two-set theta sketches with set ops: en/de vocab Jaccard (a
    // planted en-only doc keeps the overlap strictly partial — the
    // synthetic corpora share their whole vocabulary otherwise)
    Gate("vocab_jaccard_sketch", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val planted = Seq(("en", "graftplanted graftsingleton"))
        .toDF("lang", "text")
      val docs = Tables.documents(s, dir).select("lang", "text")
        .unionByName(planted)
        .where(col("lang").isin("en", "de"))
      Gate.exactWhile(
        WordCount.explodeWords(docs, "text", Seq("lang"))
          .agg(graft.functions.functions.theta_jaccard(
            col("word"), col("lang") === "en", 10).as("j"))
          .select(col("j.n_a").as("n_en"), col("j.n_b").as("n_de"),
            col("j.n_inter").as("n_shared"), col("j.jaccard_ppm")),
        "theta lg=10", col("n_en") < 1024 && col("n_de") < 1024)
    },
      // exact mirror of the sketch's below-k contract: set counts over
      // the same planted corpus
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
         |  END AS jaccard_ppm FROM s""".stripMargin),
    // MOSS winnowing: rightmost-min of each w-window of k-gram hashes —
    // density 2/(w+1) with the shared-run coverage guarantee
    Gate("doc_winnow_fingerprint", (s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir), k = 4, w = 4),
      // winnowing (k=4, w=4): rightmost window-min spelled with the SAME
      // primitive formula as the Spark side — j + w − position(
      // reverse(window), min(window)) — no lambda-reduce semantics to
      // diverge on; inner nibble var is `nb` so it can't shadow the
      // outer gram index (lambda shadowing silently hashes one gram)
      s"""WITH $SqlWinnowCtes
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  CAST(list_aggregate(fps, 'bit_xor') AS BIGINT) AS fp_xor
         |FROM fp ORDER BY doc_id""".stripMargin),
    // near-dup pairs over the winnowed (2.5x smaller) inverted index
    Gate("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), k = 4, w = 4, minShared = 3),
      s"""WITH $SqlWinnowCtes,
         |e AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        count(*)::BIGINT AS shared
         |      FROM e a JOIN e b USING (f) WHERE a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, shared FROM p WHERE shared >= 3
         |ORDER BY id_a, id_b""".stripMargin),
    // Rényi-2 collision probability per doc (ppm): the integer-exact
    // character-diversity quality signal (Σ cnt² / tot²)
    Gate("doc_char_collision", (s, dir) =>
      TextAnalysis.charCollision(Tables.documents(s, dir)),
      s"""SELECT doc_id, CAST(len(cs) AS BIGINT) AS tot_chars,
         |  CAST(list_sum(list_transform(list_distinct(cs),
         |      c -> (len(list_filter(cs, x -> x = c)))::BIGINT
         |         * (len(list_filter(cs, x2 -> x2 = c)))::BIGINT))
         |    * 1000000 // (len(cs) * len(cs)) AS BIGINT) AS coll_ppm
         |FROM (SELECT doc_id,
         |        string_split(array_to_string(ws, ''), '') AS cs
         |      FROM (SELECT doc_id, $SqlWs AS ws FROM documents)
         |      WHERE len(ws) > 0)
         |ORDER BY doc_id""".stripMargin),
    // MDM survivorship: one golden record per fuzzy entity cluster
    // (clusters STAGED — shared with fuzzy_entity_clusters)
    Gate("fuzzy_golden_record", (s, dir) =>
      Dedup.goldenRecord(Tables.customer(s, dir),
        graft.sources.DedupStage.fuzzyClusters(s, dir)),
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
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // nightly-batch winnow probe: new docs vs the base fingerprint
    // index only (base never re-paired)
    Gate("dedup_winnow_increment", (s, dir) =>
      Dedup.winnowIncrement(Tables.documents(s, dir), baseMaxId = 250L),
      SqlDedupWinnowIncrement),
    // ...and the same probe against the PERSISTED bucketed winnow
    // index (the cost-model winner at 0.39x shingle postings): base
    // winnowed once per (SparkContext, dir), probe join exchange-free on
    // the base side — equivalent by construction, shared oracle
    Gate("dedup_increment_winnow", (s, dir) =>
      graft.sources.DedupIndex.winnowIncrementReport(s, dir, baseMaxId = 250L),
      // the persisted winnow index is a materialization of the same
      // fingerprint relation the recompute probe derives
      SqlDedupWinnowIncrement),
    // candidate-generator evaluation: winnow recall vs jaccard truth —
    // the truth side probes the session-staged pair frame (r16: it IS
    // the same jaccardPairs(3,4,5) derivation, paid once per session;
    // dedup_minhash_eval keeps its truth live at its own threshold)
    Gate("dedup_winnow_eval", (s, dir) =>
      Dedup.winnowEval(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir)),
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
         |FROM c""".stripMargin),
    // index-choice cost model: Σ df(df-1)/2 per candidate index
    Gate("dedup_cost_model", (s, dir) =>
      Dedup.dedupCostModel(Tables.documents(s, dir)),
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
         |ORDER BY method""".stripMargin),
    // sketch-error eval: k-permutation minhash estimate vs exact
    // jaccard on the true near-dup pairs, in ppm
    Gate("dedup_minhash_eval", (s, dir) =>
      Dedup.minhashEval(Tables.documents(s, dir)),
      // same seed-derived affine permutation family as the Spark-side
      // MinHashSignature expression, inlined as literals; shingle hashes
      // are the dual-engine md5-prefix 60-bit value
      {
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
      }),
    // cluster-level eval: pair-counting Rand index between the
    // exact-jaccard components and the winnow-index components,
    // sample-bounded (deterministic 50% doc hash-sample) because the
    // exact-Jaccard truth side is quadratic by contract
    // r16: the truth side filters the session-staged full pair frame to
    // sampled endpoints (pair Jaccard is independent of other docs, so
    // the filtered frame equals the sampled-corpus truth join exactly)
    Gate("dedup_rand_index", (s, dir) =>
      Dedup.randIndexEval(Tables.documents(s, dir),
        graft.sources.DedupStage.pairs(s, dir), samplePct = 50),
      // two recursive-CTE component labelings (exact-jaccard vs winnow
      // pairs), co-clustered pair sets per labeling, then the pair-level
      // agreement quadrants; every multiply-referenced CTE MATERIALIZED
      // eval over the deterministic 50% document hash-sample (the exact
      // shingle-Jaccard truth join is the quadratic this bounds)
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
         |FROM cnt""".stripMargin),
    // measured Bloom false-positive rate: probes provably absent from
    // the base, so every positive is false — ground truth, not theory
    Gate("dedup_bloom_fpr", (s, dir) =>
      Dedup.bloomFprEval(Tables.documents(s, dir)),
      // Kirsch–Mitzenmacher positions over two md5 slices; the bit array
      // is the distinct base position set, a probe is positive iff all k
      // positions join — the same relational filter the Spark side runs
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
         |       // greatest(1, (SELECT count(*) FROM pro)) AS BIGINT) AS fpr_ppm""".stripMargin),
    // HyperLogLog distinct-shingle estimator (dedup-index capacity
    // metering): m=64 register table via the dual-engine md5 hash,
    // raw estimate beside the exact count
    Gate("distinct_shingles_hll", (s, dir) =>
      TextAnalysis.hllDistinct(Tables.documents(s, dir)),
      SqlDistinctShinglesHll),
    // ...and the distributed-merge form: per-source registers merged
    // by elementwise max — must equal the single-pass summary
    Gate("hll_merge_by_source", (s, dir) =>
      TextAnalysis.hllDistinctMerged(Tables.documents(s, dir)),
      // register merge is associative/commutative max — the per-source
      // merged summary equals the single-pass one by construction
      SqlDistinctShinglesHll),
    // ER blocking quality: reduction ratio + pairs completeness of the
    // SymSpell deletion-variant blocks vs the banded-lev truth,
    // sample-bounded (deterministic 50% customer hash-sample) because
    // the banded-lev truth join is quadratic by contract
    Gate("fuzzy_blocking_eval", (s, dir) =>
      Dedup.blockingEval(Tables.customer(s, dir), samplePct = 50),
      // eval over the deterministic 50% customer hash-sample (the
      // quadratic banded-lev truth join is the eval-only cost this bounds)
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
         |FROM np, nt, nc, nh""".stripMargin))
}
