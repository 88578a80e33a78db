package graft
package gates

/** Gates that run as SQL text through the session: recursive CTEs,
  * PIVOT/UNPIVOT, LATERAL, NOT IN over NULLs, set operations and
  * GROUP BY ALL.
  */
object SqlGates {

  val gates: Seq[Gate] = Seq(
    // modern SQL aggregate surface: count_if + listagg WITHIN GROUP
    // (deterministic: DISTINCT + explicit order), run via spark.sql
    // over the registered views — the SQL-first entry point under gate
    Gate("docs_modern_agg", (s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT source,
              |  count(*) AS n_docs,
              |  count_if(n_chars > 200) AS n_long,
              |  listagg(DISTINCT lang, ',') WITHIN GROUP (ORDER BY lang) AS langs
              |FROM documents GROUP BY source ORDER BY source""".stripMargin)
    },
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(count_if(n_chars > 200) AS BIGINT) AS n_long,
         |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),
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
    Gate("sql_recursive_spine", (s, dir) => {
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
    },
      s"""WITH RECURSIVE spine(d) AS (
         |  SELECT (SELECT min(epoch_ms(ts) // 86400000) FROM events)
         |  UNION ALL
         |  SELECT d + 1 FROM spine
         |  WHERE d < (SELECT max(epoch_ms(ts) // 86400000) FROM events))
         |SELECT d AS epoch_day, count(e.event_id) AS n_purchases
         |FROM spine LEFT JOIN
         |  (SELECT event_id, epoch_ms(ts) // 86400000 AS ed FROM events
         |   WHERE event_type = 'purchase') e ON e.ed = spine.d
         |GROUP BY d ORDER BY d""".stripMargin),
    // SQL PIVOT clause (the syntax surface; events_pivot is the
    // DataFrame form): daily counts fanned to one column per type
    Gate("sql_pivot", (s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT * FROM (
              |  SELECT ts_ms div 86400000 AS epoch_day, event_type
              |  FROM events)
              |PIVOT (count(*) FOR event_type IN
              |  ('click', 'view', 'purchase', 'signup', 'error'))
              |ORDER BY epoch_day""".stripMargin)
    },
      """SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |  count(*) FILTER (event_type = 'click')::BIGINT AS click,
        |  count(*) FILTER (event_type = 'view')::BIGINT AS view,
        |  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
        |  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
        |  count(*) FILTER (event_type = 'error')::BIGINT AS error
        |FROM events GROUP BY 1 ORDER BY epoch_day""".stripMargin),
    // SQL UNPIVOT clause (events_melt is the DataFrame form): wide
    // order columns folded to (metric, val) rows
    Gate("sql_unpivot", (s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT o_orderkey, metric, val FROM (
              |  SELECT o_orderkey,
              |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
              |    o_custkey FROM orders)
              |UNPIVOT (val FOR metric IN (price_cents, o_custkey))
              |ORDER BY o_orderkey, metric""".stripMargin)
    },
      """SELECT o_orderkey, metric, val FROM (
        |  SELECT o_orderkey, 'price_cents' AS metric,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS val FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'o_custkey', o_custkey FROM orders)
        |ORDER BY o_orderkey, metric""".stripMargin),
    // correlated LATERAL subquery (top-3 orders per customer by spend):
    // Catalyst decorrelates the correlated ORDER BY+LIMIT into a ranked
    // window join — the SQL surface beside top_orders_per_cust's
    // explicit window formulation
    Gate("sql_lateral_topk", (s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT c_custkey, o_orderkey, cents FROM customer,
              |LATERAL (SELECT o_orderkey,
              |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              |  FROM orders WHERE o_custkey = c_custkey
              |  ORDER BY cents DESC, o_orderkey LIMIT 3)
              |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin)
    },
      """SELECT c_custkey, o_orderkey, cents FROM customer,
        |LATERAL (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey = c_custkey
        |  ORDER BY cents DESC, o_orderkey LIMIT 3)
        |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin),
    // ANSI three-valued logic pinned: NOT IN against a set containing
    // NULL is never TRUE (0 rows), while NOT EXISTS ignores the NULL —
    // the classic silent-data-loss trap, asserted engine-identical
    Gate("sql_not_in_nulls", (s, dir) => {
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
    },
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
        |     SELECT 1 FROM sub WHERE sub.k = c.c_nationkey)) AS n_not_exists""".stripMargin),
    // multiset set-operation semantics: INTERSECT/EXCEPT ALL keep
    // per-row multiplicity (min / clamped difference per key) vs the
    // distinct forms — all four cardinalities in one row
    Gate("sql_set_ops", (s, dir) => {
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
    },
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
        |    (SELECT * FROM a EXCEPT SELECT * FROM b) t) AS n_except""".stripMargin),
    // GROUP BY ALL surface (groups inferred from the non-aggregate
    // select list), integer-cents money
    Gate("sql_group_by_all", (s, dir) => {
      GraftSql.registerViews(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
              |FROM lineitem
              |GROUP BY ALL
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))
}
