package graft
package gates

import graft.operators.{Basket, DataQuality, Graph, Relational}

/** TPC-H and relational gates over the warehouse tables: the TPC-H
  * queries, customer/order/part/supplier analytics, data-quality and
  * privacy profiles, checksums and incremental view maintenance.
  */
object RelationalGates {

  private[gates] lazy val SqlTableChecksum =
    s"""SELECT source, count(*)::BIGINT AS n_rows,
       |  sum(CASE WHEN doc_id IS NULL OR text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_rows,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  CAST(bit_xor(list_sum(list_transform(range(15), nb ->
       |    (strpos('0123456789abcdef', substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(1)) || ':' || coalesce(text, chr(1))), nb+1, 1)) - 1)::BIGINT
       |      << (4*(14-nb))))) AS BIGINT) AS checksum
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  private[gates] lazy val SqlIvmAggDelta =
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
       |FROM upd GROUP BY 1 ORDER BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q1_pricing", (s, dir) => Relational.q1Pricing(s, dir),
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q3_revenue", (s, dir) => Relational.q3Revenue(s, dir),
      s"""SELECT l_orderkey,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-09-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY 1 ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin),
    Gate("q5_local_supplier", (s, dir) => Relational.q5LocalSupplierRevenue(s, dir),
      s"""SELECT n_name,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q6_forecast", (s, dir) => Relational.q6Forecast(s, dir),
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),
    Gate("q18_large_orders", (s, dir) => Relational.q18LargeOrders(s, dir),
      s"""SELECT c_name, l_orderkey AS orderkey, total_qty FROM (
         |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) >= 150
         |) JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_qty DESC, orderkey""".stripMargin),
    Gate("parts_revenue_by_brand", (s, dir) => Relational.partsRevenueByBrand(s, dir),
      s"""SELECT p_brand,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Gate("top_orders_per_cust", (s, dir) => Relational.topOrdersPerCustomer(s, dir),
      s"""SELECT o_custkey, o_orderkey, rn, CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
         |FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders
         |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Gate("customer_spend_tiers", (s, dir) =>
      Relational.customerSpendTiers(s, dir),
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
         |FROM spend, cuts GROUP BY 1 ORDER BY 1""".stripMargin),
    // association rules: ppm confidence + lift over the directed pairs
    Gate("part_assoc_rules", (s, dir) =>
      Graph.associationRules(Tables.lineitem(s, dir),
        graft.sources.GraphStage.copurchase(s, dir)),
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
        |ORDER BY conf_ppm DESC, lift_ppm DESC, ante, cons LIMIT 50""".stripMargin),
    // LTV triangle: cohort month x months-since-acquisition revenue
    Gate("orders_cohort_ltv", (s, dir) =>
      Relational.cohortLtv(Tables.orders(s, dir)),
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // procurement health: return ppm + mean ship lag per supplier
    Gate("supplier_scorecard", (s, dir) =>
      Relational.supplierScorecard(Tables.lineitem(s, dir),
        Tables.orders(s, dir)),
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
        |FROM g ORDER BY return_ppm DESC, l_suppkey LIMIT 50""".stripMargin),
    // basket-size distribution behind the market-basket suite
    Gate("order_size_hist", (s, dir) =>
      Relational.orderSizeHistogram(Tables.lineitem(s, dir)),
      """SELECT sz AS order_size, count(*)::BIGINT AS n_orders
        |FROM (SELECT l_orderkey, count(*)::BIGINT AS sz
        |      FROM lineitem GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // SLA report: order->first-ship lag quartiles per priority
    Gate("orders_fulfillment_lag", (s, dir) =>
      Relational.fulfillmentLag(Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
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
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin),
    // recency-weighted LTV: exact monthly halving via right-shift
    Gate("customer_clv_decay", (s, dir) =>
      Relational.customerClvDecay(Tables.orders(s, dir)),
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
        |ORDER BY clv_decayed DESC, o_custkey LIMIT 20""".stripMargin),
    // product quality screen: ppm return rate at min volume
    Gate("part_return_rates", (s, dir) =>
      Relational.partReturnRates(Tables.lineitem(s, dir)),
      """SELECT l_partkey, n, n_returned,
        |  CAST(n_returned * 1000000 // n AS BIGINT) AS return_ppm
        |FROM (
        |  SELECT l_partkey, count(*)::BIGINT AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returned
        |  FROM lineitem GROUP BY 1)
        |WHERE n >= 20
        |ORDER BY return_ppm DESC, l_partkey LIMIT 50""".stripMargin),
    // YoY growth ppm per nation over nation×year revenue rollups
    Gate("nation_yoy_revenue", (s, dir) =>
      Relational.nationYoyRevenue(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir)),
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
        |ORDER BY cur.n_name, cur.yr""".stripMargin),
    // snapshot-anchored receivables aging buckets over open orders
    Gate("orders_aging_buckets", (s, dir) =>
      Relational.ordersAgingBuckets(Tables.orders(s, dir)),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // 80/20 curve: running revenue share ppm over ranked parts
    Gate("parts_pareto_curve", (s, dir) =>
      Relational.partsParetoCurve(Tables.lineitem(s, dir)),
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
        |FROM r, t WHERE rnk <= 100 ORDER BY rnk""".stripMargin),
    // grouped integer OLS: fastest-growing parts by monthly quantity
    Gate("part_monthly_trend", (s, dir) =>
      Relational.partMonthlyTrend(Tables.lineitem(s, dir)),
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
        |ORDER BY slope_ppm DESC, l_partkey LIMIT 20""".stripMargin),
    // Deequ-style declarative constraint audit over the warehouse
    Gate("dq_audit", (s, dir) =>
      DataQuality.audit(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
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
        |) ORDER BY check_id""".stripMargin),
    // RFM quartile segmentation (global percentile cuts broadcast)
    Gate("customer_rfm_segments", (s, dir) =>
      Relational.rfmSegments(Tables.orders(s, dir)),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // sweep-line interval counting: open-order backlog curve
    Gate("orders_open_backlog", (s, dir) =>
      Relational.openBacklog(Tables.orders(s, dir), Tables.lineitem(s, dir)),
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
        |FROM g ORDER BY epoch_day""".stripMargin),
    // exact integer OLS slope: quantity on discount percent
    Gate("sales_discount_slope", (s, dir) =>
      Relational.discountSlope(Tables.lineitem(s, dir)),
      """WITH t AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
        |    CAST(round(l_quantity) AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM t)
        |SELECT n, sx, sy, sxy, sxx,
        |  n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |  CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
        |    AS BIGINT) AS slope_ppm
        |FROM s""".stripMargin),
    // typed Dataset[T] groupByKey/mapGroups surface
    Gate("typed_user_spend", (s, dir) =>
      Relational.typedUserSpend(Tables.events(s, dir)),
      s"""SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // typed KeyValueGroupedDataset.cogroup two-sided per-key merge
    Gate("cogroup_user_activity", (s, dir) =>
      Relational.cogroupUserActivity(Tables.events(s, dir),
        Tables.orders(s, dir)),
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
         |ORDER BY user_id""".stripMargin),
    Gate("q4_order_priority", (s, dir) => Relational.q4OrderPriority(s, dir),
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey
         |    AND epoch_ms(l.l_shipdate) > epoch_ms(o.o_orderdate) + 2592000000)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("q10_returned_cust", (s, dir) => Relational.q10ReturnedCustomers(s, dir),
      s"""SELECT c_custkey, c_name,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c4
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name
         |ORDER BY revenue_c4 DESC, c_custkey LIMIT 20""".stripMargin),
    Gate("q14_promo_share", (s, dir) => Relational.q14PromoShare(s, dir),
      s"""SELECT
         |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
         |    CAST(round(l_extendedprice * 100) AS BIGINT)
         |      * CAST(round((1 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_c4,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_c4
         |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    Gate("q7_volume", (s, dir) => Relational.q7Volume(s, dir),
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
         |) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Gate("q8_market_share", (s, dir) => Relational.q8MarketShare(s, dir),
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
         |) GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q9_profit", (s, dir) => Relational.q9Profit(s, dir),
      s"""SELECT nation, yr, CAST(sum(rev_c) AS BIGINT) AS profit_cents FROM (
         |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
         |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN nation ON s_nationkey = n_nationkey
         |  WHERE p_name LIKE '%widget%'
         |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q12_shipdelay", (s, dir) => Relational.q12ShipDelay(s, dir),
      s"""SELECT bucket,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM (
         |  SELECT o_orderpriority,
         |    CASE WHEN delay_days < 30 THEN 'fast' WHEN delay_days < 90 THEN 'mid' ELSE 'slow' END AS bucket
         |  FROM (SELECT o_orderpriority,
         |          (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 AS delay_days
         |        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |) GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q13_custdist", (s, dir) => Relational.q13CustDist(s, dir),
      s"""SELECT c_count, count(*) AS custdist FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
         |  GROUP BY 1)
         |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Gate("q15_top_supplier", (s, dir) => Relational.q15TopSupplier(s, dir),
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
         |ORDER BY s_suppkey""".stripMargin),
    Gate("q17_small_qty", (s, dir) => Relational.q17SmallQty(s, dir),
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |  JOIN (SELECT l_partkey AS apk, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sq,
         |          count(*) AS cnt FROM lineitem GROUP BY 1) a ON apk = l_partkey
         |WHERE p_brand = 'Brand#3'
         |  AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * cnt < sq""".stripMargin),
    Gate("q19_disjunctive", (s, dir) => Relational.q19Disjunctive(s, dir),
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    Gate("q22_dormant_rich", (s, dir) => Relational.q22DormantRich(s, dir),
      s"""WITH bal AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
         |avg_bal AS (SELECT CAST(sum(bal_c) AS BIGINT) AS s, count(*) AS n FROM bal WHERE bal_c > 0)
         |SELECT c_nationkey, count(*) AS numcust, CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
         |FROM bal, avg_bal
         |WHERE bal_c * n > s
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q2_min_cost_supplier", (s, dir) => Relational.q2MinCostSupplier(s, dir),
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
         |ORDER BY bal_c DESC, p_partkey, s_suppkey LIMIT 100""".stripMargin),
    Gate("q11_important_parts", (s, dir) => Relational.q11ImportantParts(s, dir),
      s"""WITH val AS (
         |  SELECT l_partkey AS p_partkey,
         |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS value_c
         |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
         |  GROUP BY 1)
         |SELECT p_partkey, value_c FROM val
         |WHERE value_c * 10000 > (SELECT sum(value_c) FROM val) * 12
         |ORDER BY value_c DESC, p_partkey""".stripMargin),
    Gate("q16_supplier_cnt", (s, dir) => Relational.q16SupplierCount(s, dir),
      s"""SELECT p_brand, p_size // 10 AS size_bucket,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2
         |ORDER BY supplier_cnt DESC, p_brand, size_bucket""".stripMargin),
    Gate("q20_promotion_suppliers", (s, dir) => Relational.q20PromotionSuppliers(s, dir),
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
         |ORDER BY s_suppkey""".stripMargin),
    Gate("q21_waiting_suppliers", (s, dir) => Relational.q21WaitingSuppliers(s, dir),
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
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
    // governance: k-anonymity equivalence-class-size profile and the
    // sensitive-attribute diversity (l-diversity) histogram
    Gate("pii_k_anonymity", (s, dir) =>
      operators.Basket.kAnonymityProfile(Tables.customer(s, dir)),
      s"""SELECT class_size, count(*) AS n_classes, class_size < 5 AS risky FROM (
         |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
         |  FROM customer GROUP BY 1, 2)
         |GROUP BY class_size ORDER BY class_size""".stripMargin),
    Gate("pii_l_diversity", (s, dir) =>
      operators.Basket.lDiversityProfile(Tables.customer(s, dir)),
      s"""SELECT l_distinct, count(*) AS n_classes, l_distinct < 3 AS risky FROM (
         |  SELECT c_nationkey, c_mktsegment,
         |    count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000) AS l_distinct
         |  FROM customer GROUP BY 1, 2)
         |GROUP BY l_distinct ORDER BY l_distinct""".stripMargin),
    // Benford first-digit audit over order totals (exact digit math)
    Gate("benford_audit", (s, dir) =>
      Relational.benfordAudit(Tables.orders(s, dir)),
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
         |ORDER BY c.first_digit""".stripMargin),
    // sweep-line interval overlap: peak concurrent open orders
    Gate("orders_concurrency", (s, dir) =>
      Relational.ordersConcurrency(Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
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
         |FROM net ORDER BY n_open DESC, epoch_day LIMIT 10""".stripMargin),
    // Apriori-pruned frequent 3-itemsets over order baskets
    Gate("part_itemsets3", (s, dir) =>
      Basket.itemsets3(Tables.lineitem(s, dir)),
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS p
         |  FROM lineitem),
         |fi AS (SELECT oid, p FROM items WHERE p IN (
         |  SELECT p FROM items GROUP BY p HAVING count(*) >= 2))
         |SELECT a.p AS p1, b.p AS p2, c.p AS p3,
         |  count(*)::BIGINT AS support
         |FROM fi a JOIN fi b ON a.oid = b.oid AND a.p < b.p
         |  JOIN fi c ON b.oid = c.oid AND b.p < c.p
         |GROUP BY 1, 2, 3 HAVING count(*) >= 2
         |ORDER BY support DESC, p1, p2, p3 LIMIT 20""".stripMargin),
    // HHI supplier-revenue concentration per nation in ppm
    Gate("supplier_herfindahl", (s, dir) =>
      Relational.supplierHerfindahl(Tables.lineitem(s, dir),
        Tables.supplier(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // 2-D Pareto frontier over the size domain (cummin walk)
    Gate("parts_skyline", (s, dir) =>
      Relational.partsSkyline(Tables.part(s, dir)),
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
         |ORDER BY p_size""".stripMargin),
    // repurchase cadence: weekly histogram of inter-order gaps
    Gate("customer_interorder_gaps", (s, dir) =>
      Relational.interorderGaps(Tables.orders(s, dir)),
      s"""SELECT (open_day - prev) // 7 AS gap_weeks,
         |  count(*)::BIGINT AS n_gaps FROM (
         |  SELECT o_custkey,
         |    epoch_ms(o_orderdate) // 86400000 AS open_day,
         |    lag(epoch_ms(o_orderdate) // 86400000) OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY epoch_ms(o_orderdate) // 86400000, o_orderkey)
         |      AS prev
         |  FROM orders)
         |WHERE prev IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    // t-closeness EMD audit over the (nation, segment) QI classes
    Gate("pii_t_closeness", (s, dir) =>
      Basket.tClosenessProfile(Tables.customer(s, dir)),
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
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin),
    // month-of-year revenue index vs the flat 1/12 share
    Gate("orders_seasonality_index", (s, dir) =>
      Relational.seasonalityIndex(Tables.orders(s, dir)),
      """WITH m AS (SELECT month(cast(o_orderdate AS timestamp)) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM m)
        |SELECT m, rev_cents, rev_cents * 12 * 1000000 // total AS index_ppm
        |FROM m CROSS JOIN t ORDER BY m""".stripMargin),
    // segment x brand purchase lift through the 4-table join path
    Gate("segment_brand_lift", (s, dir) =>
      Relational.segmentBrandLift(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.part(s, dir)),
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
        |ORDER BY segment, brand""".stripMargin),
    // churn ppm per segment against the data-derived snapshot
    Gate("customer_churn_by_segment", (s, dir) =>
      Relational.churnBySegment(Tables.orders(s, dir),
        Tables.customer(s, dir)),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // order-independent per-source content checksum (migration check)
    Gate("table_checksum", (s, dir) =>
      DataQuality.tableChecksum(Tables.documents(s, dir)),
      SqlTableChecksum),
    // FD / key-candidate profile over documents metadata
    Gate("dq_fd_profile", (s, dir) =>
      DataQuality.fdProfile(Tables.documents(s, dir),
        Seq("doc_id" -> "source", "source" -> "lang", "lang" -> "source")),
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
        |) ORDER BY fd""".stripMargin),
    // k-anonymity generalization: smallest power-of-two balance bin
    // whose minimum equivalence class reaches k
    Gate("pii_generalize", (s, dir) =>
      Basket.kAnonymityGeneralize(Tables.customer(s, dir)),
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
        |FROM ch JOIN st ON ch.level = st.l""".stripMargin),
    // GDPR purge cascade accounting + post-purge FK integrity proofs
    Gate("pii_purge_cascade", (s, dir) =>
      operators.Basket.purgeCascade(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
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
         |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ko)) AS orphan_lineitems""".stripMargin),
    // incremental view maintenance: patch the pricing rollup with a
    // signed CDC delta; oracle recomputes from scratch
    Gate("ivm_agg_delta", (s, dir) =>
      Relational.ivmAggDelta(Tables.lineitem(s, dir)),
      SqlIvmAggDelta),
    // Kaplan-Meier life table for time-to-repurchase (right-censored)
    Gate("customer_survival_table", (s, dir) =>
      Relational.survivalTable(Tables.orders(s, dir)),
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
         |FROM k ORDER BY t_bucket""".stripMargin),
    // header-vs-lines financial reconciliation buckets
    Gate("orders_reconciliation", (s, dir) =>
      Relational.ordersReconciliation(Tables.orders(s, dir),
        Tables.lineitem(s, dir)),
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
         |FROM j""".stripMargin))
}
