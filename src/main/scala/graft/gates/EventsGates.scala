package graft
package gates

import graft.operators.{RangeJoin, Relational}

/** Event-stream analytics over the events table: windows, sessions,
  * funnels, as-of joins, rollups, time-series smoothing and change
  * detection, sequence patterns and drift tests. The streaming family
  * reuses several of these oracles for its driven-to-completion forms.
  */
object EventsGates {

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

  private[gates] lazy val SqlEventsSessionize =
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
       |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private[gates] lazy val SqlEventsValueQuantiles =
    s"""SELECT event_type, count(*) AS n,
       |  quantile_cont(c, 0.25) AS p25, quantile_cont(c, 0.5) AS p50,
       |  quantile_cont(c, 0.75) AS p75
       |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private[gates] lazy val SqlEventsEwma =
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
      |ORDER BY event_type, epoch_day""".stripMargin

  private[gates] lazy val SqlEventsHolt =
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
      |ORDER BY event_type, epoch_day""".stripMargin

  // each event belongs to width/slide = 2 sliding windows
  private[gates] lazy val SqlEventsSliding =
    s"""SELECT (epoch_ms(ts) // 300000 - i) * 300000 AS window_start_ms,
       |  event_type, count(*) AS n_events
       |FROM events, LATERAL (SELECT unnest(range(2)) AS i) r
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private[gates] lazy val SqlEventsSinceLastError =
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
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private[gates] lazy val SqlEventsWindowFunnel =
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
       |     (SELECT count(DISTINCT user_id) AS n_step3 FROM p1)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("events_by_day", (s, dir) =>
      Relational.eventsByDay(Tables.events(s, dir)),
      s"""SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_cohort_matrix", (s, dir) =>
      Relational.cohortMatrix(Tables.events(s, dir)),
      s"""WITH wk AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
         |f AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY 1)
         |SELECT cohort_wk, wk.wk - cohort_wk AS offset_wk,
         |  count(DISTINCT wk.user_id)::BIGINT AS n_users
         |FROM wk JOIN f ON wk.user_id = f.user_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("events_range_join", (s, dir) =>
      RangeJoin.sessionClickCounts(Tables.events(s, dir), gapSec = 1800,
        bucketMs = 600000),
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("events_value_outliers", (s, dir) =>
      Relational.valueOutliers(Tables.events(s, dir), k = 3),
      s"""WITH v AS (SELECT event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS value_c FROM events),
         |s AS (SELECT event_type, count(*)::BIGINT AS n, CAST(sum(value_c) AS BIGINT) AS s1,
         |      CAST(sum(value_c * value_c) AS BIGINT) AS s2 FROM v GROUP BY 1)
         |SELECT event_id, event_type, value_c,
         |  s1 // n AS mu_c, s2 // n - (s1 // n) * (s1 // n) AS var_c
         |FROM v JOIN s USING (event_type)
         |WHERE (value_c - s1 // n) * (value_c - s1 // n) > 9 * (s2 // n - (s1 // n) * (s1 // n))
         |ORDER BY event_id""".stripMargin),
    Gate("events_value_mad", (s, dir) =>
      Relational.valueMad(Tables.events(s, dir), k = 3),
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
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    Gate("events_gap_fill", (s, dir) =>
      Relational.gapFillDaily(Tables.events(s, dir)),
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
         |ORDER BY s.user_id, s.epoch_day""".stripMargin),
    // weekly-seasonality probe: integer lag-7 autocorrelation of the
    // daily event volume
    Gate("events_autocorr_lag7", (s, dir) =>
      Relational.eventsAutocorrLag(Tables.events(s, dir)),
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
        |FROM m, num, den""".stripMargin),
    Gate("events_retention", (s, dir) =>
      Relational.retention(Tables.events(s, dir)),
      s"""SELECT week, count(*) AS n_retained FROM (
         |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
         |) a WHERE EXISTS (
         |  SELECT 1 FROM (
         |    SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
         |  ) b WHERE b.user_id = a.user_id AND b.week = a.week + 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_asof", (s, dir) =>
      Relational.asofViewBeforePurchase(Tables.events(s, dir)),
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
         |ORDER BY purchase_id""".stripMargin),
    // nearest-either-side asof variant (ties -> earlier view)
    Gate("events_asof_nearest", (s, dir) =>
      Relational.asofNearestView(Tables.events(s, dir)),
      // nearest view on either side; ties prefer the earlier (prev) one
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
         |ORDER BY purchase_id""".stripMargin),
    // RANGE-interval rolling window: last-7-days per-user aggregate
    Gate("events_rolling_7d", (s, dir) =>
      Relational.rollingUserWindow(Tables.events(s, dir)),
      // RANGE frame bounded by the ts VALUE: 7 days = 604800000 ms
      s"""SELECT event_id, CAST(count(*) OVER w AS BIGINT) AS roll_n,
         |  CAST(coalesce(sum(v_c) OVER w, 0) AS BIGINT) AS roll_sum_cents
         |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         |        CAST(round(value * 100) AS BIGINT) AS v_c FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
         |             RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin),
    // exact running distinct via the first-day rewrite
    Gate("events_cumulative_users", (s, dir) =>
      Relational.cumulativeUsers(Tables.events(s, dir)),
      // a user enters the cumulative curve exactly at their first day
      s"""WITH f AS (SELECT user_id, min(epoch_ms(ts) // 86400000) AS first_day
         |           FROM events GROUP BY 1),
         |d AS (SELECT first_day, count(*)::BIGINT AS n_new FROM f GROUP BY 1)
         |SELECT first_day AS day, n_new,
         |  CAST(sum(n_new) OVER (ORDER BY first_day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         |FROM d ORDER BY day""".stripMargin),
    // closed-form integer least-squares slope of daily volume
    Gate("events_daily_trend", (s, dir) =>
      Relational.dailyTrend(Tables.events(s, dir)),
      // integer least-squares over (rebased day index, daily count)
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
         |FROM m ORDER BY event_type""".stripMargin),
    // CDC change set between the split-point state and the log end
    Gate("events_snapshot_diff", (s, dir) =>
      Relational.snapshotDiff(Tables.events(s, dir)),
      // change set between split-point per-user state and log-end state
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
         |ORDER BY user_id""".stripMargin),
    // exact positional p05/p95 clipping, raw vs winsorized sums
    Gate("events_winsorized", (s, dir) =>
      Relational.winsorizedStats(Tables.events(s, dir)),
      // positional order statistics: value at rank ceil(q*n), ties safe
      // because tied positions hold the same value
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // linear interpolation between observed neighbors on the day spine
    Gate("events_gap_interp", (s, dir) =>
      Relational.gapInterpDaily(Tables.events(s, dir)),
      // linear interpolation between the nearest observed neighbors;
      // signed integer division truncates toward zero on both engines
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
         |FROM j ORDER BY event_type, epoch_day""".stripMargin),
    Gate("events_pivot", (s, dir) =>
      Relational.eventTypePivot(Tables.events(s, dir)),
      s"""SELECT user_id, count(*) AS n_total,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("events_rollup", (s, dir) =>
      Relational.eventsRollup(Tables.events(s, dir)),
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  GROUPING(event_type)::BIGINT AS is_total, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY ROLLUP(event_type)
         |ORDER BY is_total, et_null, event_type""".stripMargin),
    Gate("events_cube", (s, dir) =>
      Relational.eventsCube(Tables.events(s, dir)),
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  coalesce(epoch_day, -1) AS epoch_day,
         |  CAST(GROUPING(epoch_day) = 0 AND epoch_day IS NULL AS BIGINT) AS day_null,
         |  (GROUPING(event_type)*2 + GROUPING(epoch_day))::BIGINT AS gid,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day, value FROM events)
         |GROUP BY CUBE(event_type, epoch_day)
         |ORDER BY gid, et_null, event_type, day_null, epoch_day""".stripMargin),
    Gate("events_grouping_sets", (s, dir) =>
      Relational.eventsGroupingSets(Tables.events(s, dir)),
      s"""SELECT coalesce(event_type, '') AS event_type,
         |  CAST(GROUPING(event_type) = 0 AND event_type IS NULL AS BIGINT) AS et_null,
         |  coalesce(epoch_day, -1) AS epoch_day,
         |  CAST(GROUPING(epoch_day) = 0 AND epoch_day IS NULL AS BIGINT) AS day_null,
         |  (GROUPING(event_type)*2 + GROUPING(epoch_day))::BIGINT AS gid,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day, value FROM events)
         |GROUP BY GROUPING SETS ((event_type), (epoch_day))
         |ORDER BY gid, et_null, event_type, day_null, epoch_day""".stripMargin),
    Gate("events_props_map", (s, dir) =>
      Relational.propsMapStats(Tables.events(s, dir)),
      s"""SELECT key, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
         |  min(v) AS min_v, max(v) AS max_v
         |FROM (
         |  SELECT key, CAST(json_extract_string(props, '$$.' || key) AS BIGINT) AS v
         |  FROM (SELECT props, unnest(json_keys(props)) AS key FROM events))
         |GROUP BY key ORDER BY key""".stripMargin),
    // Spark 4 VariantType: parse_json -> VARIANT -> variant_get extract
    Gate("events_props_variant", (s, dir) =>
      Relational.propsVariantStats(Tables.events(s, dir)),
      s"""SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM (SELECT event_type,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_funnel", (s, dir) =>
      Relational.funnel(Tables.events(s, dir)),
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
         |  LEFT JOIN fp ON fv.user_id = fp.user_id""".stripMargin),
    Gate("events_tumbling", (s, dir) => Relational.eventsTumbling(s, dir),
      s"""SELECT (epoch_ms(ts) // 600000) * 600 AS bucket_start, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("events_sessionize", (s, dir) => Relational.sessionize(s, dir),
      SqlEventsSessionize),
    Gate("events_session_window", (s, dir) =>
      Relational.sessionWindows(Tables.events(s, dir)),
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
         |) GROUP BY user_id, session_id ORDER BY user_id, start_ms""".stripMargin),
    Gate("events_json", (s, dir) => Relational.eventsJson(s, dir),
      s"""SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
         |  min(k) AS min_k, max(k) AS max_k
         |FROM (SELECT event_type, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_interval_join", (s, dir) =>
      Relational.intervalJoinViews(Tables.events(s, dir)),
      s"""SELECT p.event_id AS purchase_id, count(v.v_ms) AS n_views_before
         |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
         |      WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT user_id, epoch_ms(ts) AS v_ms FROM events
         |           WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND v.v_ms >= p.ts_ms - 600000 AND v.v_ms < p.ts_ms
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_value_quantiles", (s, dir) =>
      Relational.valueQuantiles(Tables.events(s, dir)),
      SqlEventsValueQuantiles),
    // same quantiles through the mergeable KLL sketch (exact ≤ k=32768
    // rows/group — covers every test sf; the fixed-memory 100 TB path)
    Gate("events_value_quantiles_sketch", (s, dir) =>
      Relational.valueQuantilesSketch(Tables.events(s, dir)),
      // the KLL sketch is exact at up to 32768 rows per group
      SqlEventsValueQuantiles),
    Gate("events_daily_momentum", (s, dir) =>
      Relational.dailyMomentum(Tables.events(s, dir)),
      s"""WITH daily AS (
         |  SELECT epoch_ms(ts) // 86400000 AS epoch_day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY 1)
         |SELECT epoch_day, cents,
         |  coalesce(cents - lag(cents) OVER (ORDER BY epoch_day), 0) AS delta_cents,
         |  CAST(sum(cents) OVER (ORDER BY epoch_day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_cents
         |FROM daily ORDER BY epoch_day""".stripMargin),
    // CUSUM change-point: the day where cumulative deviation peaks
    Gate("events_cusum_split", (s, dir) =>
      Relational.eventsCusumSplit(Tables.events(s, dir)),
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
        |ORDER BY abs(cusum) DESC, epoch_day LIMIT 1""".stripMargin),
    // integer α=1/2 EWMA of daily counts — exact halving recurrence
    Gate("events_ewma", (s, dir) =>
      Relational.eventsEwma(Tables.events(s, dir)),
      SqlEventsEwma),
    // weighted Space-Saving: top spenders by summed cents in one
    // bounded-state aggregation (m = 4096 > distinct users -> exact)
    Gate("events_top_spenders_sketch", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        Tables.events(s, dir)
          .select(col("user_id").cast("string").as("u"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
          .agg(graft.functions.TopKFreqSketch
            .topk_weighted(col("u"), col("cents"), 4096).as("s")),
        // fewer than m counters: no eviction ran
        "Space-Saving m=4096", size(col("s")) < 4096)
        .select(explode(col("s")).as("e"))
        .select(col("e.word").cast("long").as("user_id"),
          col("e.cnt").as("spend_cents"))
        .orderBy(col("spend_cents").desc, col("user_id")).limit(20)
    },
      """SELECT user_id, spend_cents FROM (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents
        |  FROM events GROUP BY 1)
        |ORDER BY spend_cents DESC, user_id LIMIT 20""".stripMargin),
    // freshness panel: observed vs silent minutes per day
    Gate("events_ingestion_gaps", (s, dir) =>
      Relational.ingestionGaps(Tables.events(s, dir)),
      """WITH m AS (SELECT DISTINCT epoch_ms(ts) // 60000 AS epoch_min
        |  FROM events)
        |SELECT epoch_min // 1440 AS epoch_day,
        |  count(*)::BIGINT AS observed_min,
        |  1440 - count(*)::BIGINT AS missing_min
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    // on-call page condition: hours at 1.5x their day's observed mean
    Gate("events_error_bursts", (s, dir) =>
      Relational.errorBursts(Tables.events(s, dir)),
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
        |ORDER BY epoch_hour""".stripMargin),
    // growth dashboard: daily new vs returning users
    Gate("events_new_vs_returning", (s, dir) =>
      Relational.newVsReturning(Tables.events(s, dir)),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // wall-clock activity matrix (dow x hour, epoch arithmetic)
    Gate("events_hour_dow_heatmap", (s, dir) =>
      Relational.hourDowHeatmap(Tables.events(s, dir)),
      """SELECT (epoch_ms(ts) // 86400000) % 7 AS dow,
        |  (epoch_ms(ts) % 86400000) // 3600000 AS hour,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // engagement rollup: session duration/size quartiles
    Gate("events_session_stats", (s, dir) =>
      Relational.sessionStats(Tables.events(s, dir)),
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
         |FROM s""".stripMargin),
    // distribution drift between time halves (TV distance in ppm)
    Gate("events_type_drift", (s, dir) =>
      Relational.eventTypeDrift(Tables.events(s, dir)),
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
        |FROM c, t ORDER BY event_type""".stripMargin),
    // per-user behavioral features (bot-model inputs)
    Gate("events_user_features", (s, dir) =>
      Relational.userBehaviorFeatures(Tables.events(s, dir)),
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
        |ORDER BY user_id""".stripMargin),
    // log-free diversity monitor: per-day Gini impurity of type mix
    Gate("events_type_gini", (s, dir) =>
      Relational.eventTypeGini(Tables.events(s, dir)),
      """WITH dt AS (SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT epoch_day, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq
        |  FROM dt GROUP BY 1)
        |SELECT epoch_day, n,
        |  CAST(1000000 - sumsq * 1000000 // (n * n) AS BIGINT) AS gini_ppm
        |FROM d ORDER BY epoch_day""".stripMargin),
    // hash-bucketed A/B readout: per-arm exposed/converted/ppm rate
    Gate("events_ab_test", (s, dir) =>
      Relational.abTestReport(Tables.events(s, dir)),
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
        |FROM a GROUP BY arm ORDER BY arm""".stripMargin),
    // Holt level+trend double smoothing — the EWMA fold with a trend
    Gate("events_holt", (s, dir) =>
      Relational.eventsHolt(Tables.events(s, dir)),
      SqlEventsHolt),
    // last-touch attribution: purchases credited to the latest prior
    // click/view within 7 days (one window pass, no self-join)
    Gate("events_attribution", (s, dir) =>
      Relational.lastTouchAttribution(Tables.events(s, dir)),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // top opening event-type sequences per session (session id and
    // in-session position from ONE user-keyed window pass)
    Gate("events_journey_paths", (s, dir) =>
      Relational.journeyPaths(Tables.events(s, dir)),
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
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // day-of-week seasonal baseline outliers (doubled-unit medians,
    // integer cross-multiplied thresholds)
    Gate("events_anomaly_dow", (s, dir) =>
      Relational.anomalyDow(Tables.events(s, dir)),
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
        |) WHERE anomaly IS NOT NULL ORDER BY epoch_day, event_type""".stripMargin),
    // per-stage funnel conversion delays (count/min/max/p50/p90)
    Gate("events_conversion_time", (s, dir) =>
      Relational.conversionTime(Tables.events(s, dir)),
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
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // daily error-rate ppm (pipeline-health series)
    Gate("events_error_rate", (s, dir) =>
      Relational.errorRateDaily(Tables.events(s, dir)),
      """SELECT epoch_day, n_events, n_errors,
        |  n_errors * 1000000 // n_events AS err_ppm FROM (
        |  SELECT epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n_events,
        |    (count(*) FILTER (event_type = 'error'))::BIGINT AS n_errors
        |  FROM events GROUP BY 1)
        |ORDER BY epoch_day""".stripMargin),
    // DAU/WAU stickiness: rolling 7-day distinct via window explode
    Gate("events_dau_wau", (s, dir) =>
      Relational.dauWau(Tables.events(s, dir)),
      """WITH ud AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS d,
        |    user_id FROM events),
        |dau AS (SELECT d, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT w, count(*)::BIGINT AS wau FROM (
        |  SELECT DISTINCT d + r.i AS w, user_id FROM ud,
        |    LATERAL (SELECT unnest(range(0, 7)) AS i) r) GROUP BY 1)
        |SELECT d AS epoch_day, dau, wau,
        |  dau * 1000000 // wau AS stickiness_ppm
        |FROM dau JOIN wau ON d = w ORDER BY epoch_day""".stripMargin),
    Gate("events_type_rank", (s, dir) =>
      Relational.eventTypeRanks(Tables.events(s, dir)),
      s"""SELECT user_id, event_type, cnt,
         |  rank() OVER w AS rnk, dense_rank() OVER w AS dense_rnk
         |FROM (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
         |WINDOW w AS (PARTITION BY user_id ORDER BY cnt DESC)
         |ORDER BY user_id, event_type""".stripMargin),
    // integer-exact variance components (the deterministic stddev form)
    Gate("events_value_stats", (s, dir) =>
      Relational.eventsValueStats(Tables.events(s, dir)),
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(c) AS BIGINT) AS sum_cents,
         |  CAST(sum(c * c) AS BIGINT) AS sumsq_cents
         |FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // SCD-1 merge: full-outer join + coalesce upsert
    Gate("events_snapshot_upsert", (s, dir) =>
      Relational.snapshotUpsert(Tables.events(s, dir)),
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
         |ORDER BY user_id""".stripMargin),
    // point-in-time join: purchases against the SCD2 version valid at
    // their timestamp (temporal correctness for feature pipelines)
    Gate("events_scd2_lookup", (s, dir) =>
      Relational.scd2Lookup(Tables.events(s, dir)),
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
         |ORDER BY p.event_id""".stripMargin),
    // aggregate-of-aggregates incremental rollup
    Gate("events_weekly_rollup", (s, dir) =>
      Relational.weeklyFromDaily(Tables.events(s, dir)),
      s"""SELECT epoch_day // 7 AS epoch_week,
         |  CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(sum(c) AS BIGINT) AS sum_value_cents
         |FROM (
         |  SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n,
         |    sum(CAST(round(value * 100) AS BIGINT)) AS c
         |  FROM events GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // SCD2 full-history dimension build (versioned validity intervals)
    Gate("events_scd2", (s, dir) =>
      Relational.scd2(Tables.events(s, dir)),
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
         |ORDER BY user_id, version""".stripMargin),
    // percent_rank/cume_dist distribution positions, keyed windows
    Gate("events_percent_rank", (s, dir) =>
      Relational.eventsPercentRank(Tables.events(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // RANGE frame (time-valued, tie-safe) peak moving sum
    Gate("events_peak_window", (s, dir) =>
      Relational.peakWindowSpend(Tables.events(s, dir)),
      s"""SELECT user_id, CAST(max(mv) AS BIGINT) AS peak_10min_cents,
         |  count(*) AS n_events
         |FROM (
         |  SELECT user_id,
         |    sum(CAST(round(value * 100) AS BIGINT)) OVER (
         |      PARTITION BY user_id ORDER BY epoch_ms(ts)
         |      RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS mv
         |  FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // unpivot/melt: the wide→long reshape of the pivot
    Gate("events_melt", (s, dir) =>
      Relational.eventTypeMelt(Tables.events(s, dir)),
      s"""SELECT user_id, metric, CAST(cnt AS BIGINT) AS cnt FROM (
         |  SELECT user_id, count(*) AS n_total,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
         |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
         |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_signup,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view
         |  FROM events GROUP BY user_id)
         |UNPIVOT (cnt FOR metric IN (n_total, n_click, n_error, n_purchase, n_signup, n_view))
         |ORDER BY user_id, metric""".stripMargin),
    // keyed ntile quartiles (never the global single-partition ntile)
    Gate("events_ntile", (s, dir) =>
      Relational.eventsNtile(Tables.events(s, dir)),
      s"""SELECT event_type, tile, count(*) AS n, CAST(sum(value_c) AS BIGINT) AS sum_value_cents FROM (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c,
         |    CAST(ntile(4) OVER (PARTITION BY event_type
         |      ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS BIGINT) AS tile
         |  FROM events)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // first_value / last_value over an unbounded total-ordered frame
    Gate("events_user_first_last", (s, dir) =>
      Relational.userFirstLast(Tables.events(s, dir)),
      s"""SELECT DISTINCT user_id,
         |  first_value(event_type) OVER w AS first_type,
         |  last_value(event_type) OVER w AS last_type,
         |  count(*) OVER (PARTITION BY user_id) AS n_events
         |FROM (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY user_id""".stripMargin),
    Gate("events_sliding", (s, dir) =>
      Relational.slidingWindows(Tables.events(s, dir)),
      SqlEventsSliding),
    Gate("events_clicks_views_fo", (s, dir) =>
      Relational.clicksVsViewsByDay(Tables.events(s, dir)),
      s"""SELECT coalesce(c.epoch_day, v.epoch_day) AS epoch_day,
         |  coalesce(n_clicks, 0) AS n_clicks, coalesce(n_views, 0) AS n_views
         |FROM (SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_clicks
         |      FROM events WHERE event_type = 'click' GROUP BY 1) c
         |FULL JOIN (SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_views
         |           FROM events WHERE event_type = 'view' GROUP BY 1) v
         |  ON c.epoch_day = v.epoch_day
         |ORDER BY epoch_day""".stripMargin),
    Gate("events_transitions", (s, dir) =>
      Relational.eventTransitions(Tables.events(s, dir)),
      s"""SELECT prev_type, event_type, count(*) AS cnt FROM (
         |  SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts), event_id) AS prev_type
         |  FROM events)
         |WHERE prev_type IS NOT NULL
         |GROUP BY prev_type, event_type
         |ORDER BY cnt DESC, prev_type, event_type LIMIT 20""".stripMargin),
    // depth-1 sequence mining: adjacent event-type pairs by distinct-user support
    Gate("events_seq_bigrams", (s, dir) =>
      operators.Basket.seqBigrams(Tables.events(s, dir)),
      s"""SELECT prev_type, event_type, count(*) AS n_users FROM (
         |  SELECT DISTINCT prev_type, event_type, user_id FROM (
         |    SELECT user_id, event_type,
         |      lag(event_type) OVER (PARTITION BY user_id
         |        ORDER BY epoch_ms(ts), event_id) AS prev_type
         |    FROM events)
         |  WHERE prev_type IS NOT NULL)
         |GROUP BY 1, 2 ORDER BY n_users DESC, prev_type, event_type""".stripMargin),
    // MATCH_RECOGNIZE-lite: regex over per-user ordered type initials
    Gate("events_pattern_match", (s, dir) =>
      operators.Basket.patternMatch(Tables.events(s, dir)),
      s"""SELECT user_id,
         |  CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_matches
         |FROM (
         |  SELECT user_id, string_agg(substr(event_type, 1, 1), ''
         |    ORDER BY epoch_ms(ts), event_id) AS seq
         |  FROM events GROUP BY 1)
         |WHERE len(regexp_extract_all(seq, 'cv*p')) > 0
         |ORDER BY user_id""".stripMargin),
    // stationary distribution of the event-type Markov chain: 15
    // power-iteration rounds in exact scaled integers
    Gate("events_markov_stationary", (s, dir) =>
      Relational.markovStationary(Tables.events(s, dir)),
      markovOracle(15)),
    // WOE-style feature screen: per-$50-bin error rate + lift in ppm
    Gate("events_value_bin_lift", (s, dir) =>
      Relational.valueBinLift(Tables.events(s, dir)),
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
         |FROM per CROSS JOIN t ORDER BY bin""".stripMargin),
    // two-sample KS drift statistic between click and view values
    Gate("events_ks_drift", (s, dir) =>
      Relational.ksDrift(Tables.events(s, dir)),
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
         |ORDER BY d_ppm DESC, at_cents LIMIT 1""".stripMargin),
    // additive seasonal decomposition: per-DOW index, exact integers
    Gate("events_seasonal_dow", (s, dir) =>
      Relational.seasonalDecompose(Tables.events(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // gaps-and-islands: longest consecutive-day streak per user
    Gate("events_user_streaks", (s, dir) =>
      Relational.userStreaks(Tables.events(s, dir)),
      s"""WITH days AS (SELECT DISTINCT user_id,
         |    epoch_ms(ts) // 86400000 AS epoch_day FROM events),
         |isl AS (SELECT user_id,
         |    epoch_day - row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_day) AS island
         |  FROM days)
         |SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak FROM (
         |  SELECT user_id, island, count(*)::BIGINT AS len FROM isl
         |  GROUP BY 1, 2)
         |GROUP BY 1 ORDER BY best_streak DESC, user_id LIMIT 20""".stripMargin),
    // lag-based debounce accounting per event type
    Gate("events_debounce", (s, dir) =>
      Relational.debounceStats(Tables.events(s, dir)),
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // exact global median via two histogram passes, zero global sorts
    Gate("events_exact_median", (s, dir) =>
      Relational.exactMedian2Pass(Tables.events(s, dir)),
      s"""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events),
         |t AS (SELECT count(*)::BIGINT AS n FROM c),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM c)
         |SELECT n, v AS median_cents FROM r, t
         |WHERE rk = (n + 1) // 2""".stripMargin),
    // exact p25/50/75/90/99 grid via one two-pass histogram selection
    Gate("events_percentile_grid", (s, dir) =>
      Relational.exactPercentiles2Pass(Tables.events(s, dir)),
      s"""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events),
         |t AS (SELECT count(*)::BIGINT AS n FROM c),
         |kk AS (SELECT CAST(q AS BIGINT) AS q, n, (n * q + 99) // 100 AS k
         |  FROM t, (VALUES (25), (50), (75), (90), (99)) AS qv(q)),
         |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM c)
         |SELECT q, n, v AS value_cents FROM r JOIN kk ON rk = kk.k
         |ORDER BY q""".stripMargin),
    // one-pass sessionizer gap-parameter sweep (10/30/60 min)
    Gate("events_session_sensitivity", (s, dir) =>
      Relational.sessionSensitivity(Tables.events(s, dir)),
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
         |UNION ALL SELECT 60, s60 FROM a ORDER BY gap_min""".stripMargin),
    // CDC-style resettable accumulator: spend since the last error
    Gate("events_since_last_error", (s, dir) =>
      Relational.sinceLastError(Tables.events(s, dir)),
      SqlEventsSinceLastError),
    // inter-event gap CV-squared: the bot-cadence feature
    Gate("events_gap_regularity", (s, dir) =>
      Relational.gapRegularity(Tables.events(s, dir)),
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
        |FROM m WHERE sum_g > 0 ORDER BY user_id""".stripMargin),
    // users sharing 10-min windows: co-occurrence over time
    Gate("events_coactivity_pairs", (s, dir) =>
      Relational.coactivityPairs(Tables.events(s, dir)),
      """WITH uw AS MATERIALIZED (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 600000 AS w FROM events),
        |kept AS (SELECT w FROM uw GROUP BY 1 HAVING count(*) <= 1000),
        |pr AS MATERIALIZED (SELECT uw.user_id, uw.w
        |  FROM uw JOIN kept USING (w))
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  count(*)::BIGINT AS n_windows
        |FROM pr a JOIN pr b ON a.w = b.w AND a.user_id < b.user_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY n_windows DESC, user_a, user_b LIMIT 20""".stripMargin),
    // exact trailing-7-day rolling median (doubled units)
    Gate("events_rolling_median_7d", (s, dir) =>
      Relational.rollingMedian7d(Tables.events(s, dir)),
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2)
        |SELECT event_type, epoch_day, cnt,
        |  CAST(quantile_cont(cnt * 2, 0.5) OVER (PARTITION BY event_type
        |    ORDER BY epoch_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS med2_7d
        |FROM d ORDER BY event_type, epoch_day""".stripMargin),
    // STL-style trend/seasonal/residual split in declared unit scales
    Gate("events_stl_decompose", (s, dir) =>
      Relational.stlDecompose(Tables.events(s, dir)),
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
        |ORDER BY dd.event_type, dd.epoch_day""".stripMargin),
    // daily theta sketches MATERIALIZED, then re-merged to weekly
    // distincts (lg 13, k=8192, keeps every test sf inside the exact
    // window)
    Gate("events_weekly_users_rollup", (s, dir) => {
      import org.apache.spark.sql.functions._
      Gate.exactWhile(
        Tables.events(s, dir)
          .groupBy(expr("ts_ms div 86400000").as("epoch_day"))
          .agg(theta_sketch_agg(col("user_id"), 13).as("sk"))
          .groupBy(expr("epoch_day div 7").as("epoch_week"))
          .agg(theta_sketch_estimate(theta_union_agg(col("sk"), 13)).as("n_users")),
        "theta lg=13", col("n_users") < 8192)
        .orderBy("epoch_week")
    },
      // the merged sketch is exact below k, so weekly distinct IS the
      // oracle
      """SELECT (epoch_ms(ts) // 86400000) // 7 AS epoch_week,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // in-session dwell time attributed to the earlier event's type
    Gate("events_dwell_time", (s, dir) =>
      Relational.dwellTime(Tables.events(s, dir)),
      """WITH g AS (SELECT event_type, epoch_ms(ts) AS ts_ms,
        |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS nxt
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_dwells,
        |  CAST(sum(nxt - ts_ms) AS BIGINT) AS dwell_ms,
        |  CAST(sum(nxt - ts_ms) AS BIGINT) // count(*) AS mean_dwell_ms
        |FROM g WHERE nxt IS NOT NULL AND nxt - ts_ms <= 1800000
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // rolling-origin EWMA forecast backtest: per-type MAE/bias x1000
    Gate("events_backtest_ewma", (s, dir) =>
      Relational.ewmaBacktest(Tables.events(s, dir)),
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
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // conversion-window funnel: every step within 6h of the view
    Gate("events_window_funnel", (s, dir) =>
      Relational.windowFunnelN(Tables.events(s, dir),
        Seq("view", "signup", "purchase"))
        .withColumnRenamed("n_step1", "n_view_users"),
      SqlEventsWindowFunnel),
    // variadic funnel, 4 steps: one greedy join+min round per step
    Gate("events_window_funnel_4", (s, dir) =>
      Relational.windowFunnelN(Tables.events(s, dir),
        Seq("view", "click", "signup", "purchase")),
      // the 4-step funnel unrolled: each CTE is one greedy join+min
      // round; same window anchor (the chain-starting view) as 3-step
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
         |     (SELECT count(DISTINCT user_id) AS n_step4 FROM c4)""".stripMargin),
    // Theil-Sen robust daily trend: doubled median of pairwise slopes
    Gate("events_theilsen_trend", (s, dir) =>
      Relational.theilSenTrend(Tables.events(s, dir)),
      s"""WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS d, count(*) AS n
         |  FROM events GROUP BY 1),
         |s AS (SELECT (b.n - a.n) * 1000000 // (b.d - a.d) AS slope_micro
         |  FROM daily a JOIN daily b ON b.d > a.d)
         |SELECT (SELECT count(*) FROM daily) AS n_days, count(*) AS n_pairs,
         |  CAST(round(quantile_cont(slope_micro, 0.5) * 2) AS BIGINT)
         |    AS slope_med2_micro
         |FROM s""".stripMargin),
    // robust daily-volume anomaly flags: dev > 3 MAD, all-integer
    Gate("events_mad_outliers", (s, dir) =>
      Relational.madOutliers(Tables.events(s, dir)),
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
         |ORDER BY event_type, epoch_day""".stripMargin),
    // CUSUM changepoint: day maximizing |cumulative mean deviation|
    Gate("events_cusum_changepoint", (s, dir) =>
      Relational.cusumChangepoint(Tables.events(s, dir)),
      s"""WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
         |    count(*)::BIGINT AS n FROM events GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS nd, CAST(sum(n) AS BIGINT) AS tot
         |      FROM d),
         |s AS (SELECT day,
         |    abs(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) * nd
         |        - row_number() OVER (ORDER BY day) * tot) AS abs_s, nd
         |  FROM d, t)
         |SELECT nd AS n_days, day AS cp_day, CAST(abs_s AS BIGINT) AS max_abs_s
         |FROM s ORDER BY abs_s DESC, day LIMIT 1""".stripMargin),
    // conversion-latency distribution of the funnel's greedy chains
    Gate("events_funnel_latency", (s, dir) =>
      Relational.funnelLatency(Tables.events(s, dir)),
      // the funnel chain CTEs replayed, then the per-user fastest
      // completed chain's latency summarized
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
         |FROM lat""".stripMargin),
    // leave-last-event-out eval of the Markov next-type predictor
    Gate("events_markov_eval", (s, dir) =>
      Relational.markovEval(Tables.events(s, dir)),
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
         |FROM test LEFT JOIN pred USING (prev), gt""".stripMargin),
    // depth-3 sequential patterns: distinct-user subsequence support
    Gate("events_seq_patterns3", (s, dir) =>
      operators.Basket.seqPatterns3(Tables.events(s, dir)),
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
         |ORDER BY n_users DESC, t1, t2, t3""".stripMargin))
}
