package graft
package gates

import WordCountGates.docsAsTextDir

/** Structured Streaming gates, each driven to completion
  * (AvailableNow). A gate whose stream must converge to a batch answer
  * references its batch sibling's oracle.
  */
object StreamingGates {

  val gates: Seq[Gate] = Seq(
    // the reference pipeline in incremental form: Structured Streaming
    // over the same text directory, driven to completion (AvailableNow);
    // must converge to the batch wordcount oracle
    Gate("streaming_wordcount", (s, dir) =>
      graft.streaming.Streams.wordCountAvailableNow(s, docsAsTextDir(s, dir)),
      WordCountGates.SqlWordcount),
    // the Space-Saving sketch as fixed-memory STREAMING state
    Gate("streaming_topk_sketch", (s, dir) =>
      graft.streaming.Streams.topkWordsSketchAvailableNow(
        s, docsAsTextDir(s, dir)),
      // driven to completion, the streamed sketch equals the batch one
      WordCountGates.SqlTopkWords),
    // watermark+window streaming under the driver's oracle: the events
    // parquet as a file stream, tumbling windows, run to completion
    Gate("streaming_events_windows", (s, dir) =>
      graft.streaming.Streams.eventsWindowsAvailableNow(s, dir),
      s"""SELECT (epoch_ms(ts) // 600000) * 600000 AS window_start_ms, event_type,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // streaming dedup (dropDuplicatesWithinWatermark) and custom state
    // (mapGroupsWithState), both driven to completion + batch-oracled
    Gate("streaming_dedup", (s, dir) =>
      graft.streaming.Streams.dedupAvailableNow(s, dir),
      s"""SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp"""),
    Gate("streaming_session_counts", (s, dir) =>
      graft.streaming.Streams.sessionCountsAvailableNow(s, dir),
      s"""SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
         |  SELECT user_id,
         |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
         |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
         |) GROUP BY 1 ORDER BY 1""".stripMargin),
    // multi-row custom state (flatMapGroupsWithState): one row per
    // SESSION, equal to the batch sessionize output
    // 14th streaming gate: ordered per-key state replay — per-purchase
    // last-touch attribution, equal to the batch window form
    Gate("streaming_attribution", (s, dir) =>
      graft.streaming.Streams.attributionAvailableNow(s, dir),
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
        |ORDER BY purchase_id""".stripMargin),
    // the CDC-tombstone accumulator as keyed streaming state
    Gate("streaming_since_last_error", (s, dir) =>
      graft.streaming.Streams.sinceLastErrorAvailableNow(s, dir),
      // ordered per-key replay of the CDC reset equals the batch window
      EventsGates.SqlEventsSinceLastError),
    // daily EWMA as keyed day-fold state + per-type sentinel flush
    Gate("streaming_ewma", (s, dir) =>
      graft.streaming.Streams.ewmaAvailableNow(s, dir),
      // driven to completion, the day-fold state replays the batch EWMA
      EventsGates.SqlEventsEwma),
    // the two-state (level+trend) streaming fold, same flush pattern
    Gate("streaming_holt", (s, dir) =>
      graft.streaming.Streams.holtAvailableNow(s, dir),
      // driven to completion, the level+trend fold replays the batch Holt
      EventsGates.SqlEventsHolt),
    Gate("streaming_session_rows", (s, dir) =>
      graft.streaming.Streams.sessionRowsAvailableNow(s, dir),
      // driven to completion, the streamed sessions equal the batch ones
      EventsGates.SqlEventsSessionize),
    // stream-stream interval join (watermark-bounded state) and
    // sliding windows, both run to completion and batch-oracled
    Gate("streaming_interval_join", (s, dir) =>
      graft.streaming.Streams.intervalJoinAvailableNow(s, dir),
      s"""SELECT p.event_id AS purchase_id, epoch_ms(v.ts) AS view_ms
         |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 600000
         |  AND epoch_ms(v.ts) < epoch_ms(p.ts)
         |ORDER BY purchase_id, view_ms""".stripMargin),
    // stream-stream LEFT OUTER interval join: unmatched purchases emit
    // a -1 sentinel once the watermark (heartbeat-advanced) passes them
    Gate("streaming_interval_join_outer", (s, dir) =>
      graft.streaming.Streams.leftOuterIntervalJoinAvailableNow(s, dir),
      s"""SELECT p.event_id AS purchase_id, COALESCE(epoch_ms(v.ts), -1) AS view_ms
         |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         |  AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 600000
         |  AND epoch_ms(v.ts) < epoch_ms(p.ts)
         |ORDER BY purchase_id, view_ms""".stripMargin),
    // Spark 4 transformWithState: typed ValueState on RocksDB
    Gate("streaming_tws_user_spend", (s, dir) =>
      graft.streaming.Streams.twsUserSpendAvailableNow(s, dir),
      s"""SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("streaming_events_sliding", (s, dir) =>
      graft.streaming.Streams.slidingWindowsAvailableNow(s, dir),
      // driven to completion, the streamed windows equal the batch ones
      EventsGates.SqlEventsSliding),
    // stream-static enrichment join: broadcast batch dim, no join state
    Gate("streaming_static_join", (s, dir) =>
      graft.streaming.Streams.streamStaticJoinAvailableNow(s, dir),
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // KLL sketch as streaming aggregation state; equals the batch
    // sketch query (and so its oracle) when driven to completion
    Gate("streaming_quantiles_sketch", (s, dir) =>
      graft.streaming.Streams.valueQuantilesSketchAvailableNow(s, dir),
      // driven to completion, the streaming sketch equals the batch one
      EventsGates.SqlEventsValueQuantiles),
    // the production file sink: checkpointed parquet append, batch read
    Gate("streaming_file_sink", (s, dir) =>
      graft.streaming.Streams.fileSinkWordCount(s, docsAsTextDir(s, dir)),
      // the appended parquet, read back in batch, holds the batch counts
      WordCountGates.SqlWordcount),
    // foreachBatch MERGE-style upsert into versioned parquet snapshots
    Gate("streaming_foreachbatch_upsert", (s, dir) =>
      graft.streaming.Streams.foreachBatchUpsertAvailableNow(s, dir),
      s"""SELECT user_id, ts_ms AS last_ts_ms, event_type AS last_type,
         |  CAST(round(value * 100) AS BIGINT) AS last_value_c
         |FROM (SELECT *, epoch_ms(ts) AS ts_ms, row_number() OVER (
         |        PARTITION BY user_id
         |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |      FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    // conversion funnel as keyed streaming state over a time-split
    // two-batch replay (23rd streaming gate): greedy chain frontier
    // per user, batch-equal to events_window_funnel
    Gate("streaming_window_funnel", (s, dir) =>
      graft.streaming.Streams.windowFunnelAvailableNow(s, dir),
      // greedy chain state over time-ordered batches replays the
      // batch funnel exactly (earliest-next-step is exact, and the
      // time split preserves per-user event order across batches)
      EventsGates.SqlEventsWindowFunnel),
    // streaming ingest-integrity monitor: running per-source checksum,
    // order/batch-boundary independent (XOR state), equals the batch op
    Gate("streaming_table_checksum", (s, dir) =>
      graft.streaming.Streams.tableChecksumAvailableNow(s, dir),
      // XOR state is arrival-order independent; driven to completion
      // the stream equals the batch checksum
      RelationalGates.SqlTableChecksum),
    // realtime near-dup: arriving docs probe the STATIC winnow index
    // (stream-static join, zero join state); equals the batch probe
    Gate("streaming_winnow_increment", (s, dir) =>
      graft.streaming.Streams.winnowIncrementAvailableNow(s, dir),
      // stream-static probe driven to completion = the batch increment
      DedupGates.SqlDedupWinnowIncrement),
    // 25th streaming gate: arriving vectors argmin-assign against the
    // persisted frozen centroids and APPEND to the bucketed postings
    // via foreachBatch — zero-state index ingest; the probed index
    // equals the batch increment (shared oracle)
    Gate("streaming_ann_increment", (s, dir) =>
      graft.streaming.Streams.annIncrementAvailableNow(s, dir),
      // postings are a set and the streamed delta assignment uses the
      // same frozen centroids — driven to completion, the streamed
      // index equals the batch increment
      SimilarityGates.SqlAnnIncTopk),
    // ...and the same registers maintained as streaming max state
    // (m longs forever) — equals the batch summary driven to completion
    Gate("streaming_hll_distinct", (s, dir) =>
      graft.streaming.Streams.hllDistinctAvailableNow(s, dir),
      // register maxes are arrival-order independent; driven to
      // completion the streamed HLL equals the batch summary
      DedupGates.SqlDistinctShinglesHll),
    // streaming model serving (24th gate): registered weights as a
    // map literal in a stateless per-row fold — zero-shuffle scoring
    Gate("streaming_classifier_score", (s, dir) =>
      graft.streaming.Streams.classifierServeAvailableNow(s, dir),
      // stateless per-row scoring: the map-literal fold computes the
      // same sum-of-occurrence-weights the batch feature join does
      TextGates.SqlDocClassifierTrainedScore),
    // 22nd streaming gate: the IVM rollup maintained per micro-batch
    // via foreachBatch merge; equals the batch op driven to completion
    Gate("streaming_ivm_agg", (s, dir) =>
      graft.streaming.Streams.ivmAggAvailableNow(s, dir),
      // signed sums are associative: the foreachBatch-maintained view
      // driven to completion equals the batch IVM output
      RelationalGates.SqlIvmAggDelta))
}
