package graft
package gates

/** DuckDB fragments shared by more than one gate family: the
  * reference's cleaning regex, the token and shingle relations, the
  * Jaccard pair join, the md5-prefix hash and the k-means chain. A
  * fragment used by one family lives in that family's object.
  */
private[gates] object OracleSql {

  /** The reference's cleaning regex (`sendFileByFile.cpp:89-91`),
    * escaped for a single-quoted DuckDB SQL literal (RE2 accepts the
    * same character-class escapes as Java regex).
    */
  val SqlCleanPattern = "^[A-Za-z\\[\\\\\\]^_`'']*"

  /** DuckDB fragment: the cleaned lowercased token array for one
    * document — mirrors [[operators.WordCount.cleanWords]].
    */
  val SqlWs =
    s"list_filter(list_transform(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), " +
      s"t -> lower(regexp_extract(t, '$SqlCleanPattern', 0))), w -> length(w) > 0)"

  /** DuckDB spelling of [[TextAnalysis.SymbolPattern]] (identical
    * class syntax in Java regex and RE2).
    */
  val SqlSymbolPattern = "[^A-Za-z0-9\\t\\n\\x0B\\f\\r ]"

  /** DuckDB fragment: one row per surviving token of `from`.text. */
  def sqlWords(extra: String = "", where: String = "",
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
  def sqlShingles(n: Int, distinct: Boolean = true,
                  where: String = ""): String =
    s"""SELECT${if (distinct) " DISTINCT" else ""} doc_id,
       |  array_to_string(list_slice(ws, i + 1, i + $n), ' ') AS shingle
       |FROM (SELECT doc_id, $SqlWs AS ws FROM documents$where),
       |     LATERAL (SELECT unnest(range(0, len(ws) - ${n - 1})) AS i) r
       |WHERE len(ws) >= $n""".stripMargin

  val SqlShingles = sqlShingles(3)

  /** DuckDB CTE chain mirroring [[operators.Dedup.crossDocSpans]] at
    * w = 8: `isl` holds the merged (doc_id, tok_start, tok_end,
    * n_windows) islands; shared by the span-detection and span-cutting
    * oracles.
    */
  def sqlCrossDocCtes(docs: String = "documents") =
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

  /** DuckDB: exact 3-gram Jaccard pairs above num/den — the oracle for
    * BOTH the brute-force jaccard query and the MinHash+LSH query (the
    * LSH path must converge to the exact answer after verification).
    */
  def sqlJaccard(num: Int, den: Int): String =
    s"""WITH sh AS ($SqlShingles),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM sh a JOIN sh b USING (shingle)
       |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, inter, sa.n_sh + sb.n_sh - inter AS uni
       |FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
       |WHERE inter * $den > (sa.n_sh + sb.n_sh - inter) * $num
       |ORDER BY id_a, id_b""".stripMargin

  def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** DuckDB fragment: squared scaled-integer L2 between e.ev and c.cv. */
  def sqlD2(e: String, c: String): String =
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
  def sqlKmeansCents(k: Int, iters: Int,
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

  /** The dual-engine md5-prefix 60-bit hash of a column, DuckDB
    * spelling (nibble sum — DuckDB has no conv()); mirrors Spark's
    * `cast(conv(substr(md5(x), 1, 15), 16, 10) AS bigint)`.
    */
  def sqlMd5Big(x: String): String =
    s"CAST(list_sum(list_transform(range(15), nb -> (strpos('0123456789abcdef', " +
      s"substr(md5($x), nb+1, 1)) - 1)::BIGINT << (4*(14-nb)))) AS BIGINT)"
}
