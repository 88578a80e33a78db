package graft
package gates

import graft.operators.{Dedup, TextAnalysis, WordCount}
import OracleSql.{
  SqlWs, SqlSymbolPattern, sqlWords, sqlShingles, sqlCrossDocCtes,
  sqlJaccard, sqlList, sqlMd5Big}

/** Text analysis and corpus building: per-document statistics, quality
  * rules, sampling and sharding, BPE, n-gram language-model scores,
  * search indexes and the perceptron classifier. The corpus-build
  * oracles (v2 and v3) share one SQL function, [[sqlCorpusBuildV2]].
  */
object TextGates {

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

  /** Dictionary for [[operators.TextAnalysis.keywordTag]] — shared
    * verbatim with the oracle SQL.
    */
  private val TagKeywords: Seq[String] =
    Seq("spark", "merge", "query", "vector", "window")

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

  /** The corpus_build_v2 oracle, parameterized by the documents
    * relation it reads (ADVICE r12: v3 used to be produced by
    * stripPrefix + regex surgery on the FINISHED v2 string — silent
    * breakage the day the text drifted or the word `documents`
    * appeared in a literal; now v2 and v3 share this function, v3
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

  private lazy val SqlDocMixtureSample =
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
       |WHERE rk <= quota ORDER BY r.source, doc_id""".stripMargin

  private lazy val SqlDocShardAssign =
    s"""SELECT doc_id, n_tokens, band,
       |  CAST((row_number() OVER (PARTITION BY band
       |    ORDER BY n_tokens DESC, doc_id) - 1) % 4 AS BIGINT) AS shard
       |FROM (SELECT doc_id, len($SqlWs)::BIGINT AS n_tokens,
       |        length(bin(len($SqlWs)))::BIGINT AS band FROM documents)
       |ORDER BY doc_id""".stripMargin

  // integer LM-score bucketing: familiarity // n_bigrams (truncating
  // div on both engines), ntile over the (score DESC, doc_id) total
  // order — bucket boundaries are deterministic
  private lazy val SqlDocPerplexityBuckets =
    s"""WITH g AS (${sqlShingles(2, distinct = false)}),
       |gc AS (SELECT shingle, count(*) AS gcnt FROM g GROUP BY 1),
       |fam AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(gcnt) AS BIGINT) AS familiarity
       |  FROM g JOIN gc USING (shingle) GROUP BY 1)
       |SELECT doc_id, lang, familiarity // n_bigrams AS fam_per_bigram,
       |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY familiarity // n_bigrams DESC, doc_id)
       |    WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket
       |FROM fam JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin

  private[gates] lazy val SqlDocClassifierTrainedScore =
    s"""${sqlPerceptronCtes(256, 3)},
       |sc AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS logit
       |       FROM f JOIN w3 w USING (slot) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(sc.logit, 0) AS logit,
       |  COALESCE(sc.logit, 0) > 0 AS accept,
       |  CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS is_en,
       |  (COALESCE(sc.logit, 0) > 0) = (d.lang = 'en') AS correct
       |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("doc_stats", (s, dir) =>
      TextAnalysis.docStats(Tables.documents(s, dir)),
      s"""SELECT doc_id, length(text)::BIGINT AS n_chars, len(ws)::BIGINT AS n_tokens,
         |  len(list_distinct(ws))::BIGINT AS n_distinct,
         |  coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS sum_word_len
         |FROM (SELECT doc_id, text, $SqlWs AS ws FROM documents) ORDER BY doc_id""".stripMargin),
    Gate("token_counts", (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir)),
      s"""SELECT doc_id, len($SqlWs)::BIGINT AS n_ws_tokens,
         |  len(regexp_extract_all(text, '${TextAnalysis.BpeTokenPattern}'))::BIGINT AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("text_quality", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)),
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
         |) ORDER BY doc_id""".stripMargin),
    // unicode canonicalization: a decomposed suffix (e + combining
    // acute) is planted on every doc, NFC composes it back to é —
    // delta = 1 proves the composition ran; fp hashes the normalized
    // text (the pre-dedup canonicalization pass)
    Gate("doc_nfc_normalize", (s, dir) => {
      import org.apache.spark.sql.functions._
      val planted = concat(col("text"), lit("e\u0301"))
      val norm = graft.functions.functions.nfc_normalize(planted)
      Tables.documents(s, dir).select(col("doc_id"),
        (length(planted) - length(norm)).cast("long").as("delta"),
        md5(norm).as("fp")).orderBy("doc_id")
    },
      // chr(101)=e, chr(769)=combining acute: the decomposed plant built
      // from code points so no editor/encoding ambiguity enters the SQL
      s"""SELECT doc_id,
         |  CAST(length(text || chr(101) || chr(769))
         |       - length(nfc_normalize(text || chr(101) || chr(769))) AS BIGINT) AS delta,
         |  md5(nfc_normalize(text || chr(101) || chr(769))) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("doc_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)),
      s"""SELECT doc_id, md5(lower(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("lang_id", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)),
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
         |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    Gate("doc_chunks", (s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), chunkSize = 32, overlap = 8),
      s"""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |  array_to_string(list_slice(ws, s + 1, s + 32), ' ') AS chunk_text,
         |  CAST(len(list_slice(ws, s + 1, s + 32)) AS BIGINT) AS n_chunk_tokens
         |FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |     LATERAL (SELECT unnest(range(0, len(ws), 24)) AS s,
         |                     generate_subscripts(range(0, len(ws), 24), 1) - 1 AS i) r
         |WHERE len(ws) > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin),
    Gate("dataset_split", (s, dir) =>
      TextAnalysis.datasetSplit(Tables.documents(s, dir)),
      s"""SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |            WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(len($SqlWs)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("corpus_build", (s, dir) =>
      TextAnalysis.corpusBuild(Tables.documents(s, dir),
        cc = graft.sources.DedupStage.ccLabels(s, dir)),
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
         |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin),
    // capstone v2: exact dedup + Gopher static&repetition screens +
    // winnow span-cuts + chunk accounting + per-(split, source)
    // mixture rollup — the round-7..10 operators composed end to end.
    // The documents are spread ONCE above the capstone's branches:
    // every screen re-derives from its input, and redistributing the
    // sub-split local scan parallelizes each branch's per-row work
    // (measured 2.6 → 2.1 s)
    Gate("corpus_build_v2", (s, dir) =>
      TextAnalysis.corpusBuildV2(WordCount.fillCores(Tables.documents(s, dir)),
        islands = Some(graft.sources.DedupStage.islands(s, dir))),
      // v2 capstone: winnow islands (SqlCrossDocCtes) + exact-dedup keep
      // + Gopher static/repetition screens + arithmetic chunking over the
      // cut length + per-(split, source) mixture rollup
      sqlCorpusBuildV2("documents")),
    Gate("doc_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(
        WordCount.fillCores(Tables.documents(s, dir))),
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
         |) ORDER BY doc_id""".stripMargin),
    // Gopher REPETITION rules (top-2-gram / duplicated-3-gram char
    // fractions) — the duplication half of the A1.1 screen (the plain
    // gram-count repetition stats are doc_repetition)
    Gate("doc_repetition_gopher", (s, dir) =>
      TextAnalysis.repetitionProfile(
        WordCount.fillCores(Tables.documents(s, dir))),
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
         |ORDER BY doc_id""".stripMargin),
    // context-window packing accounting: concat per source in doc_id
    // order, cut every 256 tokens — sequences, fill, straddle rate
    Gate("doc_seq_pack", (s, dir) =>
      TextAnalysis.seqPackStats(Tables.documents(s, dir), budget = 256L),
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
         |FROM c GROUP BY source ORDER BY source""".stripMargin),
    Gate("doc_reservoir_per_lang", (s, dir) =>
      TextAnalysis.reservoirPerGroup(Tables.documents(s, dir), "lang", n = 5),
      s"""SELECT lang, rn, doc_id FROM (
         |  SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn
         |  FROM (SELECT doc_id, lang, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents))
         |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin),
    Gate("bpe_pair_counts", (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), k = 30),
      s"""WITH wc AS (SELECT word, count(*)::BIGINT AS cnt FROM (${sqlWords()}) GROUP BY 1)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt FROM (
         |  SELECT substr(word, i, 2) AS pair, cnt
         |  FROM wc, LATERAL (SELECT unnest(range(1, length(word))) AS i) r
         |  WHERE length(word) >= 2)
         |GROUP BY 1 ORDER BY pair_cnt DESC, pair LIMIT 30""".stripMargin),
    Gate("bpe_learn", (s, dir) =>
      TextAnalysis.bpeLearn(Tables.documents(s, dir), nMerges = 6),
      sqlBpeLearn(6)),
    Gate("doc_bpe_segment", (s, dir) =>
      TextAnalysis.bpeSegment(Tables.documents(s, dir), nMerges = 6),
      (sqlBpeCtes(6) +
        s""",
           |vocab AS (SELECT replace(ts, '/', '') AS word,
           |  len(list_filter(string_split(ts, '/'), x -> x != ''))::BIGINT AS n_sub FROM w6)
           |SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens
           |FROM (${sqlWords(" doc_id,")}) dw JOIN vocab USING (word)
           |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // per-language subwords/word and chars/subword under the learned
    // merges — which languages the tokenizer under-serves
    Gate("vocab_fertility", (s, dir) =>
      TextAnalysis.vocabFertility(Tables.documents(s, dir), nMerges = 6),
      // same merge-table CTEs; rollup keyed by language with milli ratios
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
           |FROM agg ORDER BY lang""".stripMargin)),
    Gate("bigram_pmi", (s, dir) =>
      TextAnalysis.bigramPmi(Tables.documents(s, dir), minCnt = 5, k = 25),
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
         |ORDER BY pmi_x1000 DESC, ngram LIMIT 25""".stripMargin),
    Gate("bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(Tables.documents(s, dir), minCnt = 5),
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
         |ORDER BY ngram""".stripMargin),
    Gate("doc_sparse_pairs", (s, dir) =>
      TextAnalysis.sparseDotPairs(Tables.documents(s, dir), maxDf = 100,
        minDot = 2L),
      s"""WITH w AS (${sqlWords(extra = " doc_id,")}),
         |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
         |keep AS (SELECT word FROM tf GROUP BY 1 HAVING count(*) <= 100),
         |p AS (SELECT tf.* FROM tf JOIN keep USING (word))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |FROM p a JOIN p b ON a.word = b.word AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING sum(a.tf * b.tf) >= 2
         |ORDER BY id_a, id_b""".stripMargin),
    // cross-lingual candidate pairs by shared rare terms — the blocking
    // stage of bitext mining (df-pruned before the join)
    Gate("doc_langpair_mining", (s, dir) =>
      TextAnalysis.langPairMining(Tables.documents(s, dir), "en", "de",
        maxDf = 200, minShared = 1L),
      // distinct (doc, lang, word) postings; df-pruned; en x de pairs
      s"""WITH w AS (SELECT DISTINCT doc_id, lang, word
         |  FROM (${sqlWords(" doc_id, lang,")}) WHERE lang IN ('en', 'de')),
         |keep AS (SELECT word FROM w GROUP BY 1 HAVING count(*) <= 200),
         |p AS (SELECT w.* FROM w JOIN keep USING (word))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM p a JOIN p b ON a.word = b.word
         |  AND a.lang = 'en' AND b.lang = 'de'
         |GROUP BY 1, 2 HAVING count(*) >= 1
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("phrase_search", (s, dir) =>
      TextAnalysis.phraseSearch(Tables.documents(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // n-word generalization: top trigram, one-shuffle offset-vote plan
    Gate("phrase_search_3", (s, dir) =>
      TextAnalysis.phraseSearchN(Tables.documents(s, dir), n = 3),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // sloppy-phrase proximity: all three terms within a 6-token
    // minimal cover window
    Gate("proximity_search", (s, dir) =>
      TextAnalysis.proximitySearch(Tables.documents(s, dir),
        Seq("hash", "join", "scan"), window = 6),
      // minimal cover window over one occurrence of each term: the
      // bounded per-doc cross product of the pruned postings
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
         |ORDER BY doc_id""".stripMargin),
    // consecutive 0..n-1 example ids WITHOUT the 1-partition global
    // sort: range partitions + per-partition offsets (zipWithIndex)
    Gate("doc_global_index", (s, dir) =>
      TextAnalysis.globalIndex(Tables.documents(s, dir)),
      // the distributed numbering must equal the sequential definition
      s"""SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
         |FROM documents ORDER BY doc_id""".stripMargin),
    // word2vec-style windowed co-occurrence via positional equi-join
    Gate("skipgram_counts", (s, dir) =>
      TextAnalysis.skipgramCounts(Tables.documents(s, dir)),
      // windowed co-occurrence: the ±k condition as a position equi-join
      s"""WITH w AS (
         |  SELECT doc_id, i AS pos, ws[i + 1] AS word
         |  FROM (SELECT doc_id, $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r)
         |SELECT a.word AS w1, b.word AS w2, count(*)::BIGINT AS cnt
         |FROM w a JOIN w b ON a.doc_id = b.doc_id
         |  AND b.pos - a.pos BETWEEN 1 AND 3
         |GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin),
    // vocabulary-free hashing-trick features: 64 md5 slots per doc
    Gate("doc_hashed_features", (s, dir) =>
      TextAnalysis.hashedFeatures(Tables.documents(s, dir)),
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(word), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) % 64 AS BIGINT) AS bucket,
         |  count(*)::BIGINT AS cnt
         |FROM (${sqlWords(" doc_id,")})
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // deterministic unigram^0.75 negative draws per frequent center
    Gate("skipgram_negatives", (s, dir) =>
      TextAnalysis.skipgramNegatives(Tables.documents(s, dir)),
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
         |ORDER BY center, rk""".stripMargin),
    Gate("vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), k = 100),
      s"""WITH w AS (${sqlWords(extra = " doc_id,")}),
         |vocab AS (SELECT word FROM w GROUP BY 1
         |          ORDER BY count(*) DESC, word LIMIT 100),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM w GROUP BY 1),
         |oov AS (SELECT doc_id, count(*)::BIGINT AS n_oov FROM w
         |        WHERE word NOT IN (SELECT word FROM vocab) GROUP BY 1)
         |SELECT tot.doc_id, n_tokens, coalesce(n_oov, 0) AS n_oov,
         |  coalesce(n_oov, 0) * 1000 // n_tokens AS oov_x1000
         |FROM tot LEFT JOIN oov ON tot.doc_id = oov.doc_id
         |ORDER BY tot.doc_id""".stripMargin),
    Gate("doc_mixture_sample", (s, dir) =>
      TextAnalysis.mixtureSample(Tables.documents(s, dir), budget = 200),
      SqlDocMixtureSample),
    // two-phase salted quota ranking — same rows, same ranks, same oracle
    Gate("doc_mixture_sample_salted", (s, dir) =>
      TextAnalysis.mixtureSampleSalted(Tables.documents(s, dir), budget = 200,
        salts = 16),
      SqlDocMixtureSample),
    // α=0.75 temperature quotas via correctly-rounded sqrt composition
    Gate("doc_temperature_sample", (s, dir) =>
      TextAnalysis.temperatureSample(Tables.documents(s, dir), budget = 200),
      // α=0.75 weights as sqrt(n)·sqrt(sqrt(n)) — each factor IEEE
      // correctly-rounded, so the milli-scaled floor is engine-exact
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
         |WHERE rk <= quota ORDER BY r.source, doc_id""".stripMargin),
    Gate("doc_weighted_sample", (s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir), n = 30),
      s"""SELECT doc_id, n_tokens, CAST(h // (n_tokens + 1) AS BIGINT) AS priority FROM (
         |  SELECT doc_id, len($SqlWs)::BIGINT AS n_tokens,
         |    list_sum(list_transform(range(15), i ->
         |      (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |        << (4*(14-i)))) AS h
         |  FROM documents)
         |ORDER BY priority, doc_id LIMIT 30""".stripMargin),
    Gate("doc_shard_assign", (s, dir) =>
      TextAnalysis.shardAssign(Tables.documents(s, dir), nShards = 4),
      SqlDocShardAssign),
    // rank-refined band window — bit-identical shards, same oracle
    Gate("doc_shard_assign_refined", (s, dir) =>
      TextAnalysis.shardAssignRefined(Tables.documents(s, dir), nShards = 4),
      SqlDocShardAssign),
    // split assigned by hash of the near-dup COMPONENT, not the doc id —
    // near-duplicates can never straddle train/test (leakage-proof)
    Gate("dataset_split_leakproof", (s, dir) =>
      Dedup.splitLeakproof(Tables.documents(s, dir),
        graft.sources.DedupStage.ccLabels(s, dir)),
      // group-wise split: same recursive-CTE CC, then the md5-prefix hash
      // of the component label decides the split for every member at once
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
         |FROM hs ORDER BY doc_id""".stripMargin),
    Gate("tfidf_top_terms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir)),
      s"""WITH tf AS (SELECT doc_id, word, count(*) AS tf
         |            FROM (${sqlWords(" doc_id,")}) GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT doc_id, word, tf, df, tf * 1000000 // df AS score
         |      FROM tf JOIN df USING (word))
         |SELECT doc_id, word, tf, df, score, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS rn FROM s
         |) WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),
    // integer-exact BM25 over a corpus-derived 3-term query: postings
    // semi-join-pruned before df, length norm in milli fixed-point
    Gate("doc_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir)),
      // mirrors bm25TopDocs: same fixed-point scales, same division order
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
         |FROM sc GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin),
    Gate("pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir)),
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}'))::BIGINT AS n_urls,
         |  md5(regexp_replace(
         |        regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |        '${TextAnalysis.UrlPattern}', '<URL>', 'g')) AS scrubbed_fp
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("doc_sample_hash", (s, dir) =>
      TextAnalysis.hashSample(Tables.documents(s, dir), pct = 10),
      s"""SELECT doc_id FROM (
         |  SELECT doc_id, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents) WHERE h % 100 < 10 ORDER BY doc_id""".stripMargin),
    // per-stratum keep rates over the same deterministic id hash — the
    // language-balancing primitive of a corpus build
    Gate("doc_stratified_sample", (s, dir) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, dir), "lang",
        Map("en" -> 10, "de" -> 50), defaultPct = 25),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, list_sum(list_transform(range(15), i ->
         |    (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i+1, 1)) - 1)::BIGINT
         |      << (4*(14-i)))) AS h
         |  FROM documents)
         |WHERE h % 100 < (CASE WHEN lang = 'en' THEN 10 WHEN lang = 'de' THEN 50 ELSE 25 END)
         |ORDER BY doc_id""".stripMargin),
    // posting lists with state-capped aggregation (stopwords keep exact
    // df but never build collect_set state)
    Gate("inverted_index", (s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir)),
      s"""WITH pairs AS (SELECT DISTINCT doc_id, word FROM (${sqlWords(" doc_id,")})),
         |d AS (SELECT word, count(*)::BIGINT AS df FROM pairs GROUP BY 1),
         |p AS (SELECT word, list_sort(list(doc_id)) AS ids FROM pairs GROUP BY 1)
         |SELECT d.word AS word,
         |  CASE WHEN d.df <= 100
         |    THEN array_to_string(list_transform(p.ids[1:20], x -> CAST(x AS VARCHAR)), ',')
         |    ELSE '' END AS postings,
         |  d.df AS df
         |FROM d JOIN p USING (word) ORDER BY word""".stripMargin),
    // contiguous greedy packing of docs into fixed token budgets,
    // per-source shard (parallel prefix sums, no global window)
    Gate("doc_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir)),
      s"""SELECT source, doc_id, n_tokens, CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id FROM (
         |  SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT source, doc_id, CAST(len($SqlWs) AS BIGINT) AS n_tokens FROM documents))
         |ORDER BY source, doc_id""".stripMargin),
    // lexical richness: TTR quartiles per language
    Gate("doc_ttr_by_lang", (s, dir) =>
      TextAnalysis.ttrByLang(Tables.documents(s, dir)),
      s"""WITH t AS (SELECT lang,
         |    CAST(len(list_distinct(ws)) AS BIGINT) * 1000 // len(ws) AS ttr
         |  FROM (SELECT lang, $SqlWs AS ws FROM documents)
         |  WHERE len(ws) > 0)
         |SELECT lang, count(*) AS n,
         |  quantile_cont(ttr, 0.25) AS p25, quantile_cont(ttr, 0.5) AS p50,
         |  quantile_cont(ttr, 0.75) AS p75
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
    // sampling self-eval: realized mixture skew of the 10% hash sample
    Gate("sample_bias_report", (s, dir) =>
      TextAnalysis.sampleBiasReport(Tables.documents(s, dir)),
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
        |FROM g, t ORDER BY lang""".stripMargin),
    // discourse-position profile of frequent words (per-mille)
    Gate("word_position_profile", (s, dir) =>
      TextAnalysis.wordPositionProfile(Tables.documents(s, dir)),
      s"""WITH w AS (
         |  SELECT ws[i + 1] AS word,
         |    CAST(i * 1000 // (len(ws) - 1) AS BIGINT) AS ppt
         |  FROM (SELECT $SqlWs AS ws FROM documents),
         |       LATERAL (SELECT unnest(range(0, len(ws))) AS i) r
         |  WHERE len(ws) >= 2)
         |SELECT word, count(*)::BIGINT AS n,
         |  CAST(sum(ppt) // count(*) AS BIGINT) AS mean_relpos_ppt
         |FROM w GROUP BY 1
         |ORDER BY n DESC, word LIMIT 30""".stripMargin),
    // mixture monitor: dominant lang + purity ppm per source
    Gate("doc_lang_purity", (s, dir) =>
      TextAnalysis.langPurityBySource(Tables.documents(s, dir)),
      """WITH c AS (SELECT source, lang, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, lang, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, lang)
        |      AS rn,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        |  FROM c)
        |SELECT source, n_docs, lang AS top_lang,
        |  CAST(c * 1000000 // n_docs AS BIGINT) AS purity_ppm
        |FROM r WHERE rn = 1 ORDER BY source""".stripMargin),
    // packing utilization: per-source fill ppm + underfull count
    Gate("doc_pack_efficiency", (s, dir) =>
      TextAnalysis.packEfficiency(Tables.documents(s, dir)),
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
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    // Church-Gale burstiness: clumping words vs function words
    Gate("word_burstiness", (s, dir) =>
      TextAnalysis.wordBurstiness(Tables.documents(s, dir)),
      s"""SELECT word, count(*)::BIGINT AS cnt,
         |  count(DISTINCT doc_id)::BIGINT AS df,
         |  CAST(count(*) * 1000 // count(DISTINCT doc_id) AS BIGINT)
         |    AS burst_x1000
         |FROM (${sqlWords(" doc_id,")})
         |GROUP BY word
         |ORDER BY burst_x1000 DESC, word LIMIT 30""".stripMargin),
    // confusion matrix of the lang-id heuristic vs labeled lang
    Gate("lang_confusion_matrix", (s, dir) =>
      TextAnalysis.langConfusionMatrix(Tables.documents(s, dir)),
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Heaps-law vocabulary growth curve (one wordcount-shaped shuffle)
    Gate("word_vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir)),
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
         |ORDER BY pct""".stripMargin),
    // CCNet-style cross-doc boilerplate chunk removal
    Gate("doc_boilerplate_scrub", (s, dir) =>
      TextAnalysis.boilerplateScrub(Tables.documents(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the raw-markup front door: tag/script/style stripping + entity
    // decode ahead of every other corpus operator, proven on a
    // planted-markup wrapper of the clean fixture
    Gate("doc_html_extract", (s, dir) =>
      TextAnalysis.htmlExtract(Tables.documents(s, dir)),
      // identical wrap + extraction chain on identical markup (the
      // pattern/constant strings are shared Scala vals); the independent
      // proof is doc_html_extract_wordcount below
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
         |ORDER BY doc_id""".stripMargin),
    // the parity proof: the engine's wordcount over EXTRACTED text vs
    // an oracle that never sees the markup (clean text + planted
    // constants) — extraction loss breaks the hash
    Gate("doc_html_extract_wordcount", (s, dir) =>
      TextAnalysis.htmlExtractWordcount(Tables.documents(s, dir)),
      // the oracle never sees markup: tokens of the clean fixture text
      // plus the planted head/h1 constants (entity-decoded, tag-free)
      s"""SELECT word, count(*)::BIGINT AS cnt FROM (${sqlWords(from =
           "(SELECT doc_id, 'doc & meta heading <' || " +
           "CAST(doc_id AS VARCHAR) || '> ' || text AS text " +
           "FROM documents) src")})
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the capstone fed from the markup front door: wrap → extract →
    // dedup ∩ gopher ∩ repetition ∩ span-cut → chunk/mixture (a crawl
    // pipeline end to end; oracle = the v2 SQL over the extraction's
    // proven clean form)
    Gate("corpus_build_v3", (s, dir) =>
      TextAnalysis.corpusBuildV3(Tables.documents(s, dir)),
      // corpus_build_v3 = the v2 oracle over the extraction's PROVEN
      // clean form (planted constants + text — the equivalence the
      // doc_html_extract_wordcount gate pins): the shared SQL function reads
      // from a `docsx` CTE instead of the documents table (ADVICE r12:
      // no more stripPrefix/regex surgery on the finished v2 string)
      {
        val body = sqlCorpusBuildV2("docsx")
        require(body.startsWith("WITH "),
          "sqlCorpusBuildV2 must open with its CTE chain")
        "WITH docsx AS (SELECT doc_id, 'doc & meta heading <' || " +
          "CAST(doc_id AS VARCHAR) || '> ' || text AS text, lang, " +
          "source, n_chars FROM documents),\n" +
          body.stripPrefix("WITH ")
      }),
    // Zipf-shape frequency-of-frequency histogram
    Gate("word_freq_of_freq", (s, dir) =>
      TextAnalysis.freqOfFreq(Tables.documents(s, dir)),
      s"""SELECT cnt, count(*) AS n_words FROM (
         |  SELECT word, count(*) AS cnt FROM (${sqlWords()}) GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("doc_bigram_familiarity", (s, dir) =>
      TextAnalysis.bigramFamiliarity(Tables.documents(s, dir)),
      s"""WITH g AS (${sqlShingles(2, distinct = false)}),
         |gc AS (SELECT shingle, count(*) AS gcnt FROM g GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(gcnt) AS BIGINT) AS familiarity
         |FROM g JOIN gc USING (shingle)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // CCNet-style per-language head/middle/tail LM-score buckets
    Gate("doc_perplexity_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, dir)),
      SqlDocPerplexityBuckets),
    // refined per-lang window (prefix-sum offset + closed-form ntile):
    // bit-identical buckets, dominant-language-safe; shares the oracle
    Gate("doc_perplexity_buckets_refined", (s, dir) =>
      TextAnalysis.perplexityBucketsRefined(Tables.documents(s, dir)),
      // the refined form is provably the same permutation and bucketing
      SqlDocPerplexityBuckets),
    // DSIR-style selection: hashed-token target/raw importance ratio,
    // fixed-point integers, top-n via TakeOrderedAndProject
    Gate("dsir_select", (s, dir) =>
      TextAnalysis.dsirSelect(Tables.documents(s, dir)),
      // hashed-bucket importance: the bucket-independent smoothing factor
      // (R+B)/(T+B) is dropped (it scales every doc's sum equally); the
      // kept per-token score is the fixed-point target/raw count ratio
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
         |GROUP BY 1 ORDER BY importance DESC, doc_id LIMIT 100""".stripMargin),
    // mixture planning: per-source rate/epochs for a token budget at
    // target ppm weights — the pass BEFORE any sampler runs
    Gate("corpus_mixture_plan", (s, dir) =>
      TextAnalysis.mixturePlan(Tables.documents(s, dir),
        Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 150000L,
          "src3" -> 50000L), budgetTokens = 100000L),
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
         |FROM p ORDER BY source""".stripMargin),
    // zero-shuffle dictionary tagger over the cleaned token arrays
    Gate("multi_keyword_tag", (s, dir) =>
      TextAnalysis.keywordTag(Tables.documents(s, dir), TagKeywords),
      s"""SELECT doc_id, count(*)::BIGINT AS n_matched,
         |  string_agg(word, ',' ORDER BY word) AS matched
         |FROM (SELECT DISTINCT doc_id, word FROM (${sqlWords(" doc_id,")})
         |  WHERE word IN (${TagKeywords.map(w => s"'$w'").mkString(", ")}))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // exact-quota 80/10/10 stratified split per language
    Gate("doc_quota_split", (s, dir) =>
      TextAnalysis.quotaSplit(Tables.documents(s, dir)),
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // integer Zipf slope of the frequency-rank curve
    Gate("word_zipf_slope", (s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir)),
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
         |FROM xy""".stripMargin),
    // within-doc hapax share: lexical diversity per document
    Gate("doc_hapax_ratio", (s, dir) =>
      TextAnalysis.hapaxRatio(Tables.documents(s, dir)),
      s"""WITH c AS (SELECT doc_id, word, count(*)::BIGINT AS c
         |  FROM (${sqlWords(" doc_id,")}) GROUP BY 1, 2),
         |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, n_hapax,
         |  n_hapax * 1000000 // n_tokens AS ratio_ppm
         |FROM g ORDER BY doc_id""".stripMargin),
    // greedy bigram-LM decode from the 3 most frequent seeds
    Gate("bigram_generate", (s, dir) =>
      TextAnalysis.bigramGenerate(Tables.documents(s, dir), nSeeds = 3, steps = 6),
      {
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
      }),
    // RAKE keyphrases: stopword-free runs scored by deg/freq word stats
    Gate("doc_rake_keyphrases", (s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir)),
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
         |FROM sc GROUP BY 1 ORDER BY score_x1000 DESC, phrase LIMIT 25""".stripMargin),
    // hashed-linear quality-classifier inference (fastText shape):
    // zero-shuffle per-doc dot product over hashed bigram features
    Gate("doc_classifier_score", (s, dir) =>
      TextAnalysis.classifierScore(Tables.documents(s, dir)),
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
         |ORDER BY doc_id""".stripMargin),
    // calibration bins of the classifier score vs the lang label
    Gate("doc_classifier_calibration", (s, dir) =>
      TextAnalysis.classifierCalibration(Tables.documents(s, dir)),
      s"""WITH sc AS (SELECT lang,
         |  CAST(CASE WHEN len(ws) < 2 THEN 0
         |    ELSE list_sum(list_transform(range(0, len(ws) - 1),
         |      i -> ${sqlMd5Big("array_to_string(list_slice(ws, i + 1, i + 2), ' ')")}
         |        % 4096 * 2654435761 % 2001 - 1000)) END AS BIGINT) AS logit_micro
         |  FROM (SELECT lang, $SqlWs AS ws FROM documents))
         |SELECT logit_micro // 2000 AS bin, count(*) AS n_docs,
         |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
         |  (count(*) FILTER (WHERE lang = 'en') * 1000000) // count(*) AS en_ppm
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),
    // IN-ENGINE training: 3 integer batch-perceptron rounds over the
    // hashed bigram features, label = (lang = 'en'); output = weights,
    // registered once per (SparkContext, dir) — the model-registry shape
    Gate("doc_classifier_train", (s, dir) =>
      TextAnalysis.classifierTrainCached(s, dir),
      s"""${sqlPerceptronCtes(256, 3)}
         |SELECT slot, CAST(w AS BIGINT) AS w FROM w3 ORDER BY slot""".stripMargin),
    // inference with the LEARNED (registered) weights
    Gate("doc_classifier_trained_score", (s, dir) =>
      TextAnalysis.classifierTrainedScore(Tables.documents(s, dir),
        weights = Some(TextAnalysis.classifierTrainCached(s, dir))),
      SqlDocClassifierTrainedScore),
    // held-out eval: train on the first 80% of doc_ids, score the
    // rest — confusion counts + accuracy/precision/recall ppm,
    // registered once per session next to the model weights
    Gate("doc_classifier_eval", (s, dir) =>
      TextAnalysis.classifierEvalCached(s, dir),
      // held-out eval: perceptron trained on the first 80% of doc_ids
      // only, scored over the rest; featureless docs score 0 via the
      // left join (pred = reject), same as the Spark side's coalesce
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
         |FROM s""".stripMargin))
}
