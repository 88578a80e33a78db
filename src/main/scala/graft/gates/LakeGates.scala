package graft
package gates

import graft.operators.{DataQuality, Layout, RuntimeFilter, Skew, TextAnalysis}
import OracleSql.{sqlWords, sqlMd5Big}

/** Lake and physical-layout gates: partition pruning, schema
  * evolution, dynamic overwrite, time travel, compaction, zone maps,
  * delete vectors, bucketing, bloom filters and file statistics.
  */
object LakeGates {

  val gates: Seq[Gate] = Seq(
    // hive-partitioned lake: the filter prunes to one partition dir
    Gate("partitioned_pruned_scan", (s, dir) =>
      graft.sources.PartitionedLake.prunedDailySpend(s, dir),
      s"""SELECT epoch_ms(ts) // 86400000 AS epoch_day, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // schema evolution: mergeSchema over a two-generation lake; gen-1
    // rows read NULL for the column generation 2 added
    Gate("lake_schema_evolution", (s, dir) =>
      graft.sources.PartitionedLake.schemaEvolutionStats(s, dir),
      s"""SELECT event_type, count(*) AS n, count(value_cents) AS n_v2,
         |  CAST(sum(value_cents) AS BIGINT) AS sum_cents
         |FROM (SELECT event_type,
         |        CASE WHEN event_id % 2 = 1
         |             THEN CAST(round(value * 100) AS BIGINT) END AS value_cents
         |      FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // dynamic partition overwrite: patch ONE partition's corrected
    // rows; the other partitions' survival is the semantics under test
    Gate("lake_dynamic_overwrite", (s, dir) =>
      graft.sources.PartitionedLake.dynamicOverwriteStats(s, dir),
      // the error partition was overwritten with doubled cents; all
      // other partitions keep their original rows
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 2 ELSE 1 END
         |           * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("events_zorder_stats", (s, dir) =>
      Layout.zorderStats(Tables.events(s, dir), bits = 16, bucketShift = 8),
      s"""SELECT zval >> 8 AS zbucket, count(*)::BIGINT AS n,
         |  min(user_id) AS min_user, max(user_id) AS max_user,
         |  min(epoch_day) AS min_day, max(epoch_day) AS max_day
         |FROM (
         |  SELECT user_id, epoch_day,
         |    CAST(list_sum(list_transform(range(16), i ->
         |      (((user_id >> i) & 1) << (2*i + 1)) + (((epoch_day >> i) & 1) << (2*i)))) AS BIGINT) AS zval
         |  FROM (SELECT CAST(user_id AS BIGINT) AS user_id,
         |          epoch_ms(ts) // 86400000 AS epoch_day FROM events))
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // explicit salted equi-join (hot-key spreading): orders ⋈ customer
    // over 8 salt buckets, aggregated per nation — result is
    // salt-invariant so it shares a plain-join oracle
    Gate("orders_nation_salted_join", (s, dir) => {
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
    },
      s"""SELECT c_nationkey,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         |  count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // co-located bucketed join: both sides bucketed+sorted on orderkey
    // at write time, joined with zero exchanges (plan-audited)
    Gate("bucketed_join_revenue", (s, dir) =>
      graft.sources.Bucketing.bucketedRevenueByPriority(s, dir),
      s"""SELECT o_orderpriority,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_lines
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // compaction planning: ship-day row groups packed into ~2000-row
    // sequential bins (running-total div target)
    Gate("lake_compaction_bins", (s, dir) =>
      operators.Layout.compactionBins(
        Tables.lineitem(s, dir)
          .groupBy(org.apache.spark.sql.functions.expr(
            "unix_millis(cast(l_shipdate as timestamp)) div 86400000")
            .as("epoch_day"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_rows")),
        "epoch_day", "n_rows", target = 2000L),
      """WITH f AS (SELECT epoch_ms(l_shipdate) // 86400000 AS epoch_day,
        |    count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT epoch_day, n_rows,
        |  CAST(COALESCE(sum(n_rows) OVER (ORDER BY epoch_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
        |    AS BIGINT) AS bin
        |FROM f ORDER BY epoch_day""".stripMargin),
    // per-join-key multiplicity profile: the pre-join skew diagnostic
    Gate("join_skew_profile", (s, dir) =>
      DataQuality.skewProfile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
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
        |) ORDER BY key_col""".stripMargin),
    // explicit runtime row-level filter: bloom prefilter on the fact
    // scan + exact semi-join verify (result exact regardless of FP)
    Gate("bloom_semi_join", (s, dir) =>
      RuntimeFilter.bloomPrunedRevenue(s, dir),
      // the bloom prefilter is a pure performance device — the verify
      // semi-join makes the result the plain semi-join answer
      s"""SELECT l_returnflag, count(*) AS n_items,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // lake time-travel: version v0 of the upsert snapshot chain reads
    // back as the batch recompute over the FIRST micro-batch only
    Gate("lake_time_travel", (s, dir) =>
      graft.streaming.Streams.lakeTimeTravel(s, dir),
      // as-of v0 = the state after the FIRST micro-batch (the even
      // event_id half of the parity split) — the batch recompute the
      // snapshot read-back must equal
      s"""SELECT user_id, ts_ms AS last_ts_ms, event_type AS last_type,
         |  CAST(round(value * 100) AS BIGINT) AS last_value_c
         |FROM (SELECT *, epoch_ms(ts) AS ts_ms, row_number() OVER (
         |        PARTITION BY user_id
         |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |      FROM events WHERE event_id % 2 = 0)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    // snapshot expiry/vacuum planning: per version, rows + retained
    // flag under keep-last-1 retention
    Gate("lake_snapshot_expiry", (s, dir) =>
      graft.streaming.Streams.snapshotExpiry(s, dir),
      // v0 rows = distinct users in the even half; v1 = all users (the
      // upsert state holds one row per user seen); keep-last-1 retains
      // only the final version
      s"""WITH v0 AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events
         |            WHERE event_id % 2 = 0),
         |v1 AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events)
         |SELECT CAST(0 AS BIGINT) AS version, v0.n AS n_rows,
         |  FALSE AS retained FROM v0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), v1.n, TRUE FROM v1
         |ORDER BY version""".stripMargin),
    // parquet bloom-filter point lookup on an unsorted high-card key
    Gate("parquet_bloom_scan", (s, dir) =>
      graft.sources.BloomParquet.pointLookup(s, dir),
      s"""SELECT l_partkey, count(*)::BIGINT AS n_lines,
         |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         |    AS qty_c,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |    AS price_c
         |FROM lineitem WHERE l_partkey = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // zone-map skipping A/B: date-clustered files vs arrival order
    // under the same 30-day predicate
    Gate("lake_zone_map_skipping", (s, dir) =>
      operators.Layout.zoneMapSkipping(Tables.lineitem(s, dir)),
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
        |FROM roll ORDER BY layout""".stripMargin),
    // deletion-vector lifecycle: merge-on-read bookkeeping + the
    // rewrite-vs-keep-DV compaction policy outcome, priced from data
    Gate("lake_delete_vectors", (s, dir) =>
      operators.Layout.deleteVectorStats(Tables.lineitem(s, dir)),
      // merge-on-read deletion vectors: per-file deleted fraction, then
      // the compaction split at the 12000-ppm rewrite threshold
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
        |FROM pol""".stripMargin),
    // delta+varint postings accounting for the inverted index
    Gate("index_compression_stats", (s, dir) =>
      TextAnalysis.indexCompressionStats(Tables.documents(s, dir)),
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
         |FROM gaps""".stripMargin),
    // CMS inner-product join-size estimate beside the exact sum c^2
    Gate("join_card_estimate", (s, dir) =>
      DataQuality.joinCardEstimate(Tables.lineitem(s, dir)),
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
         |FROM x, e""".stripMargin),
    // bitmap secondary-index utility: row groups touched per flag,
    // current layout vs flag-clustered layout
    Gate("lake_bitmap_index", (s, dir) =>
      Layout.bitmapIndexStats(Tables.lineitem(s, dir)),
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
         |ORDER BY l_returnflag""".stripMargin),
    // per-file NDV manifest statistics: exact vs HLL register estimate
    Gate("lake_file_ndv", (s, dir) =>
      Layout.fileNdvStats(Tables.lineitem(s, dir)),
      {
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
      }))
}
