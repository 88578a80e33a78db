package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.Streams

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming word count over a text directory (complete mode)") {
    val dir = Files.createTempDirectory("graft_stream").toFile
    Files.writeString(new java.io.File(dir, "a.txt").toPath, "the cat the")
    val q = Streams.wordCountStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(got == Map("the" -> 2L, "cat" -> 1L))
      // late-arriving file is incorporated incrementally
      Files.writeString(new java.io.File(dir, "b.txt").toPath, "cat dog")
      q.processAllAvailable()
      val got2 = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(got2 == Map("the" -> 2L, "cat" -> 2L, "dog" -> 1L))
    } finally q.stop()
  }

  test("checkpointed stream recovers across restart without recount") {
    val dir = Files.createTempDirectory("graft_ckpt_src").toFile
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    Files.writeString(new java.io.File(dir, "a.txt").toPath, "the cat")
    def start() = Streams.wordCountStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("wc_ckpt")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // restart from the checkpoint; add new data only
    Files.writeString(new java.io.File(dir, "b.txt").toPath, "cat dog")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.table("wc_ckpt").as[(String, Long)].collect().toMap
      // counts include both files exactly once (no double-count of a.txt)
      assert(got == Map("the" -> 1L, "cat" -> 2L, "dog" -> 1L))
    } finally q2.stop()
  }

  test("windowed event counts with watermark (append after watermark)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Double)]
    val events = in.toDF().toDF("event_id", "ts_ms", "event_type", "value")
      .withColumnRenamed("ts_ms", "ts_ms")
    val q = Streams.windowedEventCounts(events, "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("win_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 60_000L, "view", 1.0), (2L, 120_000L, "view", 2.5))
      q.processAllAvailable()
      // push watermark far past the first window so it closes
      in.addData((3L, 7_200_000L, "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("win_stream")
        .select("window_start_ms", "event_type", "n_events", "sum_value_cents")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got.contains((0L, "view", 2L, 350L)))
    } finally q.stop()
  }

  test("streaming session_window merges events within the gap") {
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val agg = in.toDF().toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_millis(col("session_window.start")).as("start_ms"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sess_win_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 0L), (1L, 60_000L), (1L, 10_000_000L))
      q.processAllAvailable()
      in.addData((1L, 100_000_000L))  // advance watermark far -> close sessions
      q.processAllAvailable()
      val got = spark.table("sess_win_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(got.contains((1L, 0L, 2L)))           // merged first two events
      assert(got.contains((1L, 10_000_000L, 1L)))  // separate session
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence per fingerprint") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val docs = in.toDF().toDF("doc_id", "ts_ms", "text")
    val q = Streams.streamingDedup(docs)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, 1000L, "same text"), (2L, 2000L, "same text"),
        (3L, 3000L, "other"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id").as[Long].collect().toSet
      assert(ids.size == 2 && ids.contains(3L))
    } finally q.stop()
  }

  test("availableNow streaming dedup equals batch distinct fingerprints") {
    import org.apache.spark.sql.functions.{col, md5}
    val got = Streams.dedupAvailableNow(spark, sf0001).count()
    val want = Tables.documents(spark, sf0001)
      .select(md5(col("text"))).distinct().count()
    assert(got == want)
  }

  test("foreachBatch upsert converges to batch latest-per-user across 2 batches") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, round, row_number}
    val got = Streams.foreachBatchUpsertAvailableNow(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val want = Tables.events(spark, sf0001)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("ts_ms"), col("event_type"),
        round(col("value") * 100).cast("long"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("left-outer interval join equals the batch left join, -1 for no view") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val got = Streams.leftOuterIntervalJoinAvailableNow(spark, sf0001)
      .as[(Long, Long)].collect().toSeq.sorted
    val ev = Tables.events(spark, sf0001)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_ms").as("p_ms"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_ms").as("v_ms"))
    val want = p.join(v,
        col("p_user") === col("v_user") &&
          col("v_ms") >= col("p_ms") - 600000L && col("v_ms") < col("p_ms"),
        "left_outer")
      .select(col("purchase_id"), coalesce(col("v_ms"), lit(-1L)))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got.nonEmpty && got == want)
    // the outer semantics must be exercised: some purchase has no view
    assert(got.exists(_._2 == -1L))
    // flush-determinism stress at the trimmed 2-heartbeat staging: the
    // watermark-commit race (the reason the heartbeats exist) is
    // per-RUN, so repeated runs over the same staging pin that the
    // final no-data batch always evicts the last unmatched purchases
    for (i <- 1 to 7) {
      val again = Streams.leftOuterIntervalJoinAvailableNow(spark, sf0001)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(again == want, s"outer flush nondeterministic on rerun $i")
    }
  }

  test("transformWithState user spend equals the batch per-user aggregate") {
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val got = Streams.twsUserSpendAvailableNow(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val want = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got.nonEmpty && got == want)
  }

  test("availableNow session counts equal batch sessionization") {
    import org.apache.spark.sql.functions.{col, max}
    val got = Streams.sessionCountsAvailableNow(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val want = graft.operators.Relational
      .sessions(Tables.events(spark, sf0001), 1800)
      .groupBy("user_id").agg(max(col("session_id")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("mapGroupsWithState session counts across triggers") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val events = in.toDF().toDF("user_id", "ts_ms")
    val q = Streams.sessionCounts(spark, events)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("update").start()
    try {
      in.addData((1L, 0L), (1L, 1000L))        // one session
      q.processAllAvailable()
      in.addData((1L, 10_000_000L))            // gap > 30min -> second session
      q.processAllAvailable()
      val last = spark.table("sess_stream").as[(Long, Long)].collect()
        .filter(_._1 == 1L).map(_._2).max
      assert(last == 2L)
    } finally q.stop()
  }

  test("streaming attribution equals an in-memory ordered replay") {
    val got = graft.streaming.Streams
      .attributionAvailableNow(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    val events = graft.Tables.events(spark, sf0001)
      .select("user_id", "event_id", "event_type", "ts_ms", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val want = events.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var lt: Option[(Long, String)] = None
      rows.toSeq.sortBy(r => (r._4, r._2)).flatMap {
        case (_, _, et @ ("click" | "view"), ts, _) =>
          lt = Some((ts, et)); None
        case (_, eid, "purchase", ts, v) =>
          val ch = lt.collect {
            case (ltMs, t) if ltMs >= ts - 604800000L => t
          }.getOrElse("direct")
          Some(eid -> ((ch, math.round(v * 100))))
        case _ => None
      }
    }.toMap
    assert(got == want)
  }

  test("streaming since-last-error equals the batch reset accumulator") {
    val got = graft.streaming.Streams
      .sinceLastErrorAvailableNow(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
    val want = graft.operators.Relational
      .sinceLastError(Tables.events(spark, sf0001)).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming Space-Saving sketch equals exact top-k below capacity") {
    val dir = graft.TempDirs.scratch("graft_stream_topk_").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "a.txt"), "b b b a a c\nd a b")
    val got = graft.streaming.Streams
      .topkWordsSketchAvailableNow(spark, dir, m = 16, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("b", 4L), ("a", 3L), ("c", 1L)))
  }

  test("streaming Holt equals the batch level+trend recurrence") {
    val got = graft.streaming.Streams.holtAvailableNow(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val want = graft.operators.Relational
      .eventsHolt(Tables.events(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming EWMA equals the batch halving recurrence, last day included") {
    val got = graft.streaming.Streams.ewmaAvailableNow(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = graft.operators.Relational
      .eventsEwma(Tables.events(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
    // the per-type sentinel day is NOT in the output
    val maxReal = want.map(_._2).max
    assert(got.forall(_._2 <= maxReal))
  }

  test("KLL sketch state merges across micro-batches to the exact quantiles") {
    // two parquet files + maxFilesPerTrigger=1 -> two REAL batches; the
    // serialized sketch must round-trip the state store and merge
    val src = Files.createTempDirectory("graft_kll_src")
    val rows = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    rows.filter(_._1 <= 50).toDF("c", "event_type")
      .coalesce(1).write.mode("append").parquet(src.toString)
    rows.filter(_._1 > 50).toDF("c", "event_type")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.functions.KllQuantiles.kll_quantiles(
          org.apache.spark.sql.functions.col("c"), 1024,
          Seq(0.25d, 0.5d, 0.75d)).as("qs"))
      .writeStream.format("memory").queryName("kll_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2,
        "must have processed two non-empty micro-batches")
      val got = spark.table("kll_stream")
        .selectExpr("event_type", "n", "CAST(qs[0] AS LONG)",
          "CAST(qs[1] AS LONG)", "CAST(qs[2] AS LONG)")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      // exact below k: evens 2..100 and odds 1..99, 50 values each;
      // KLL lower-bound rank semantics at k >> n returns the exact
      // order statistics the batch query produces
      val batch = Seq(rows.filter(_._1 % 2 == 0), rows.filter(_._1 % 2 == 1))
      val want = batch.map { rs =>
        val vs = rs.map(_._1).sorted
        // percentile-compatible interpolation at rank p·(N−1), then
        // the CAST AS LONG truncation the query applies
        def q(p: Double): Long = {
          val t = p * (vs.size - 1)
          val lo = vs(t.toInt).toDouble
          val hi = vs(math.ceil(t).toInt).toDouble
          (lo + (hi - lo) * (t - t.toInt)).toLong
        }
        (if (vs.head % 2 == 0) "a" else "b", vs.size.toLong,
          q(0.25), q(0.5), q(0.75))
      }.sortBy(_._1)
      assert(got == want)
    } finally q.stop()
  }

  test("streaming winnow increment equals the batch probe") {
    val got = Streams.winnowIncrementAvailableNow(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = operators.Dedup
      .winnowIncrement(Tables.documents(spark, sf0001), 250L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "the sf0.001 fixture must produce probe hits")
    assert(got == want)
  }

  test("ordered stages leave the fixture untouched and hold only their own files") {
    val fixture = java.nio.file.Paths.get(sf0001, "events.parquet")
    val before = Files.getLastModifiedTime(fixture)
    val sources = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.sources.foreach(s => sources.add(s.description))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val outer = try {
      val first = Streams.leftOuterIntervalJoinAvailableNow(spark, sf0001)
        .as[(Long, Long)].collect().toSeq.sorted
      Streams.ewmaAvailableNow(spark, sf0001).collect()
      Streams.holtAvailableNow(spark, sf0001).collect()
      GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext)
      first
    } finally spark.streams.removeListener(listener)
    assert(Files.getLastModifiedTime(fixture) == before, "staging moved the fixture's mtime")
    val Source = """FileStreamSource\[(.+)\]""".r
    val stages = sources.asScala.toSet[String].collect {
      case Source(p) => java.nio.file.Paths.get(new java.net.URI(p)).toRealPath()
    }
    assert(stages.size == 2, s"expected the outer-join and the day-fold stages, got $stages")
    for (stage <- stages; f <- Files.list(stage).iterator().asScala) {
      assert(!Files.isSymbolicLink(f) && f.toRealPath().startsWith(stage),
        s"$f lies outside its stage $stage")
    }
    val again = Streams.leftOuterIntervalJoinAvailableNow(spark, sf0001)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(again == outer)
  }

  test("versioned merge: a re-executed batch rewrites its version identically; versions sort numerically") {
    import org.apache.spark.sql.functions.sum
    val root = graft.TempDirs.scratchString("graft_versions_")
    // the IVM shape: the merge ADDS the batch to the previous version
    def add(prev: Option[org.apache.spark.sql.DataFrame],
            b: org.apache.spark.sql.DataFrame) =
      prev.fold(b)(_.unionByName(b).groupBy("k").agg(sum("n").as("n")))
    def rows(v: Long) = spark.read.parquet(Streams.versionPath(root, v))
      .as[(String, Long)].collect().toSeq.sorted
    Streams.mergeVersion(root, Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), 0)(add)
    val batch1 = Seq(("a", 10L), ("c", 5L)).toDF("k", "n")
    Streams.mergeVersion(root, batch1, 1)(add)
    val v1 = rows(1)
    assert(v1 == Seq(("a", 11L), ("b", 2L), ("c", 5L)))
    Streams.mergeVersion(root, batch1, 1)(add)
    assert(rows(1) == v1, "re-executing batch 1 counted it twice")
    for (v <- Seq(2L, 10L))
      Streams.mergeVersion(root, Seq(("z", v)).toDF("k", "n"), v)(add)
    assert(Streams.versions(root) == Seq(0L, 1L, 2L, 10L))
    // v10 merges onto v2, the newest version below it
    assert(rows(10) == Seq(("a", 11L), ("b", 2L), ("c", 5L), ("z", 12L)))
  }

  test("streaming window funnel equals the batch funnel (2-batch replay)") {
    val got = graft.streaming.Streams
      .windowFunnelAvailableNow(spark, sf0001).collect()(0)
    val want = operators.Relational.windowFunnelN(
      Tables.events(spark, sf0001), Seq("view", "signup", "purchase"))
      .collect()(0)
    assert((0 to 4).map(got.getLong) == (0 to 4).map(want.getLong))
  }

  test("lakeTimeTravel: v0 equals the batch recompute over batch 0") {
    val got = graft.streaming.Streams.lakeTimeTravel(spark, sf0001, 0)
      .collect().map(_.toString).toSeq
    val ev0 = Tables.events(spark, sf0001).where(col("event_id") % 2 === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val want = ev0.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("ts_ms").as("last_ts_ms"),
        col("event_type").as("last_type"),
        round(col("value") * 100).cast("long").as("last_value_c"))
      .orderBy("user_id")
      .collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("streaming classifier serving equals the batch trained score") {
    val got = graft.streaming.Streams
      .classifierServeAvailableNow(spark, sf0001, 64, 2)
      .collect().map(_.toString).toSeq
    val w = operators.TextAnalysis.classifierTrainCached(spark, sf0001, 64, 2)
    val want = operators.TextAnalysis.classifierTrainedScore(
        Tables.documents(spark, sf0001), 64, 2, weights = Some(w))
      .collect().map(_.toString).toSeq
    assert(got == want && got.nonEmpty)
  }

  // ------------------------------------------- streaming ANN ingest

  test("streaming ANN ingest equals the batch increment") {
    val got = graft.streaming.Streams
      .annIncrementAvailableNow(spark, sf0001)
      .collect().map(_.toString).toSeq
    val want = graft.sources.AnnIndex
      .annIncrementReport(spark, sf0001, nQueries = 10, k = 5)
      .collect().map(_.toString).toSeq
    assert(got == want)
  }
}
