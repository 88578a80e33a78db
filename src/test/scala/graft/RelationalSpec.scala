package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, Long, Long, String, Double, String)*) =
    rows.toDF("event_id", "user_id", "ts_ms", "event_type", "value", "props")

  test("sessions split on gaps > gapSec") {
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"),
      (2L, 1L, 1000L, "a", 1.0, "{}"),       // same session
      (3L, 1L, 4_000_000L, "a", 1.0, "{}"),  // gap > 1800s -> new session
      (4L, 2L, 0L, "a", 1.0, "{}"))          // other user
    val got = Relational.sessions(e, 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("tumbling buckets align to width") {
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"),
      (2L, 1L, 599_999L, "a", 2.0, "{}"),
      (3L, 1L, 600_000L, "b", 3.0, "{}"))
    val got = Relational.tumbling(e, 600)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, "a", 2L, 300L), (600L, "b", 1L, 300L)))
  }

  test("jsonStats extracts $.k") {
    val e = events(
      (1L, 1L, 0L, "a", 1.0, """{"k": 10}"""),
      (2L, 1L, 0L, "a", 1.0, """{"k": 32}"""))
    val r = Relational.jsonStats(e).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 42L, 10L, 32L)))
  }

  test("propsVariantStats: VARIANT parse + typed field extract") {
    val e = events(
      (1L, 1L, 0L, "a", 1.0, """{"k": 10}"""),
      (2L, 1L, 0L, "a", 1.0, """{"k": 32}"""),
      (3L, 1L, 0L, "b", 1.0, """{"k": 5}"""))
    val got = Relational.propsVariantStats(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("a", 2L, 42L, 10L, 32L), ("b", 1L, 5L, 5L, 5L)))
  }

  test("asof join: most recent strictly-prior view per purchase") {
    val e = events(
      (1L, 1L, 100L, "view", 0.0, "{}"),
      (2L, 1L, 200L, "view", 0.0, "{}"),
      (3L, 1L, 300L, "purchase", 0.0, "{}"),   // -> view 2, gap 100
      (4L, 1L, 400L, "purchase", 0.0, "{}"),   // -> still view 2 (purchases don't chain)
      (5L, 2L, 500L, "purchase", 0.0, "{}"))   // no prior view -> dropped
    val got = Relational.asofViewBeforePurchase(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((3L, 2L, 100L), (4L, 2L, 200L)))
  }

  test("asof nearest: picks the closer side, prefers prev on ties") {
    val e = events(
      (1L, 1L, 100L, "view", 0.0, "{}"),
      (2L, 1L, 150L, "purchase", 0.0, "{}"),   // prev 50 vs next 150 -> view 1
      (3L, 1L, 300L, "view", 0.0, "{}"),
      (4L, 1L, 400L, "purchase", 0.0, "{}"),   // prev 100 (view 3) vs next 100 (view 5): tie -> prev
      (5L, 1L, 500L, "view", 0.0, "{}"),
      (6L, 2L, 900L, "purchase", 0.0, "{}"),   // only a LATER view -> forward match
      (7L, 2L, 1000L, "view", 0.0, "{}"),
      (8L, 3L, 1L, "purchase", 0.0, "{}"))     // no view at all -> dropped
    val got = Relational.asofNearestView(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 1L, 50L), (4L, 3L, 100L), (6L, 7L, 100L)))
  }

  test("rolling 7d window: value-bounded frame, inclusive boundary") {
    val day = 86400000L
    val e = events(
      (1L, 1L, 0L, "view", 1.0, "{}"),
      (2L, 1L, 3 * day, "view", 2.0, "{}"),
      (3L, 1L, 10 * day, "view", 4.0, "{}"),   // 10d-7d = 3d: event 2 exactly on the boundary -> included
      (4L, 2L, 0L, "view", 8.0, "{}"))
    val got = Relational.rollingUserWindow(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 100L), (2L, 2L, 300L), (3L, 2L, 600L), (4L, 1L, 800L)))
  }

  test("cumulativeUsers: exact running distinct via first-day rewrite") {
    val day = 86400000L
    val e = events(
      (1L, 1L, 0L, "view", 0.0, "{}"),
      (2L, 2L, 0L, "view", 0.0, "{}"),
      (3L, 1L, 1 * day, "view", 0.0, "{}"),      // returning user: no new
      (4L, 3L, 2 * day, "view", 0.0, "{}"),
      (5L, 1L, 2 * day, "view", 0.0, "{}"))
    val got = Relational.cumulativeUsers(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 2L, 2L), (2L, 1L, 3L)))
  }

  test("dailyTrend: integer least-squares slope; single-day group -> null") {
    val day = 86400000L
    // "view": counts 1,2,3 on days 0,1,2 -> slope exactly 1/day
    val grows = (1L to 6L).map { i =>
      val d = if (i <= 1) 0L else if (i <= 3) 1L else 2L
      (i, 1L, d * day, "view", 0.0, "{}")
    }
    val flat = Seq((7L, 1L, 0L, "click", 0.0, "{}"))  // one day only
    val got = Relational.dailyTrend(events(grows ++ flat: _*))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.toSeq == Seq(
      ("click", 1L, None), ("view", 3L, Some(1000000L))))
  }

  test("snapshotDiff: added and changed users only, same dropped") {
    val cut = 1705363200000L
    val e = events(
      (1L, 1L, cut - 100L, "view", 0.0, "{}"),
      (2L, 1L, cut + 100L, "click", 0.0, "{}"),  // changed: 1 -> 2
      (3L, 2L, cut - 50L, "view", 0.0, "{}"),    // same: latest still 3
      (4L, 3L, cut + 50L, "view", 0.0, "{}"))    // added after the split
    val got = Relational.snapshotDiff(e).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "changed", Some(1L), 2L), (3L, "added", None, 4L)))
  }

  test("winsorizedStats: exact positional cuts clip the outlier") {
    // 20 values 1..19 + one 1000-outlier: p05 rank = ceil(0.05*20) = 1
    // -> lo = 1; p95 rank = ceil(0.95*20) = 19 -> hi = 19; the 1000
    // clips to 19
    val rows = (1L to 19L).map(i => (i, 1L, 0L, "view", i / 100.0, "{}")) :+
      (20L, 1L, 0L, "view", 10.00, "{}")
    val r = Relational.winsorizedStats(events(rows: _*)).collect().head
    assert(r.getString(0) == "view" && r.getLong(1) == 20L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 19L)
    assert(r.getLong(4) == (1L to 19L).sum + 1000L)
    assert(r.getLong(5) == (1L to 19L).sum + 19L)
  }

  test("gapInterpDaily: linear fill between neighbors, clamped edges") {
    val day = 86400000L
    // "view" observed on days 0 (100c) and 3 (400c): days 1,2 interp
    // to 200/300; "click" observed only day 2 -> edges clamp to 50
    val e = events(
      (1L, 1L, 0L, "view", 1.0, "{}"),
      (2L, 1L, 3 * day, "view", 4.0, "{}"),
      (3L, 1L, 2 * day, "click", 0.5, "{}"))
    val got = Relational.gapInterpDaily(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("click", 0L, 50L, 1L), ("click", 1L, 50L, 1L),
      ("click", 2L, 50L, 0L), ("click", 3L, 50L, 1L),
      ("view", 0L, 100L, 0L), ("view", 1L, 200L, 1L),
      ("view", 2L, 300L, 1L), ("view", 3L, 400L, 0L)))
  }

  test("pivot: per-user conditional counts") {
    val e = events(
      (1L, 1L, 0L, "view", 0.0, "{}"),
      (2L, 1L, 0L, "click", 0.0, "{}"),
      (3L, 1L, 0L, "view", 0.0, "{}"))
    val r = Relational.eventTypePivot(e).collect().head
    // columns: user_id, n_total, n_click, n_error, n_purchase, n_signup, n_view
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L && r.getLong(6) == 2L)
  }

  test("rollup emits per-type rows plus a grouping()-tagged grand total") {
    val e = events(
      (1L, 1L, 0L, "view", 1.0, "{}"),
      (2L, 1L, 0L, "click", 2.0, "{}"))
    val got = Relational.eventsRollup(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(("click", 0L, 0L, 1L, 200L), ("view", 0L, 0L, 1L, 100L),
      ("", 0L, 1L, 2L, 300L)))
  }

  test("rollup keeps a NULL event_type distinct from the grand total") {
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1L, 0L, "view", 1.0, "{}"),
        org.apache.spark.sql.Row(2L, 1L, 0L, null, 2.0, "{}"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
    val got = Relational.eventsRollup(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the NULL-key row (et_null=1, is_total=0) is distinct from BOTH a
    // genuine '' key (et_null=0) and the grand total (is_total=1), and
    // the (is_total, et_null, event_type) sort key is total
    assert(got == Seq(("view", 0L, 0L, 1L), ("", 1L, 0L, 1L),
      ("", 0L, 1L, 2L)))
  }

  test("rank vs dense_rank diverge on tied counts") {
    val e = events(
      (1L, 1L, 0L, "view", 0.0, "{}"),
      (2L, 1L, 0L, "view", 0.0, "{}"),
      (3L, 1L, 0L, "click", 0.0, "{}"),
      (4L, 1L, 0L, "error", 0.0, "{}"))   // click/error tie at 1
    val got = Relational.eventTypeRanks(e).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("click", 1L, 2L, 2L), ("error", 1L, 2L, 2L),
      ("view", 2L, 1L, 1L)))
  }

  test("interval join counts only same-user views in the preceding window") {
    val e = events(
      (1L, 1L, 1_000_000L, "purchase", 0.0, "{}"),
      (2L, 1L, 999_000L, "view", 0.0, "{}"),      // in window
      (3L, 1L, 1_000_000L - 600_000L, "view", 0.0, "{}"), // exactly -10min: in (>=)
      (4L, 1L, 300_000L, "view", 0.0, "{}"),      // too old
      (5L, 1L, 1_000_000L, "view", 0.0, "{}"),    // not strictly before
      (6L, 2L, 999_500L, "view", 0.0, "{}"),      // other user
      (7L, 3L, 0L, "purchase", 0.0, "{}"))        // no views at all
    val got = Relational.intervalJoinViews(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (7L, 0L)))
  }

  test("value quantiles interpolate quarter points exactly") {
    // cents 100,200,300,400 -> p25 = 175, p50 = 250, p75 = 325
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"), (2L, 1L, 0L, "a", 2.0, "{}"),
      (3L, 1L, 0L, "a", 3.0, "{}"), (4L, 1L, 0L, "a", 4.0, "{}"))
    val r = Relational.valueQuantiles(e).collect().head
    assert((r.getDouble(2), r.getDouble(3), r.getDouble(4)) == ((175.0, 250.0, 325.0)))
  }

  test("daily momentum: delta and 7-day moving sum over day aggregates") {
    val day = 86_400_000L
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"),
      (2L, 1L, day, "a", 3.0, "{}"),
      (3L, 1L, day, "a", 1.0, "{}"),
      (4L, 1L, 2 * day, "a", 2.0, "{}"))
    val got = Relational.dailyMomentum(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 100L, 0L, 100L), (1L, 400L, 300L, 500L),
      (2L, 200L, -200L, 700L)))
  }

  test("funnel counts staged conversions in order") {
    val e = events(
      (1L, 1L, 100L, "view", 0.0, "{}"),
      (2L, 1L, 200L, "signup", 0.0, "{}"),
      (3L, 1L, 300L, "purchase", 0.0, "{}"),   // full funnel
      (4L, 2L, 100L, "view", 0.0, "{}"),
      (5L, 2L, 50L, "signup", 0.0, "{}"),      // signup BEFORE view -> not counted
      (6L, 3L, 10L, "purchase", 0.0, "{}"))    // purchase only -> not in funnel
    val r = Relational.funnel(e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 1L)))
  }

  test("eventTransitions counts lag pairs per user in time order") {
    val e = events(
      (1L, 1L, 100L, "view", 0.0, "{}"),
      (2L, 1L, 200L, "click", 0.0, "{}"),
      (3L, 1L, 300L, "click", 0.0, "{}"),
      (4L, 2L, 100L, "view", 0.0, "{}"),
      (5L, 2L, 200L, "click", 0.0, "{}"),
      (6L, 3L, 100L, "signup", 0.0, "{}"))   // single event -> no pair
    val got = Relational.eventTransitions(e)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("view", "click", 2L), ("click", "click", 1L)))
  }

  test("q4/q10/q14 return sane shapes on sf0.001") {
    val q4 = Relational.q4OrderPriority(spark, sf0001)
    assert(q4.count() == 5)  // all five priorities present in testdata
    assert(Relational.q10ReturnedCustomers(spark, sf0001).count() <= 20)
    val r = Relational.q14PromoShare(spark, sf0001).collect().head
    assert(r.getLong(0) >= 0 && r.getLong(0) <= r.getLong(1))
  }

  test("ntile quartiles are keyed per event_type and near-equal sized") {
    // 8 rows of type a (tiles of 2), 2 rows of type b (tiles 1,2 of 1)
    val e = events((1L to 8L).map(i => (i, 1L, 0L, "a", i.toDouble, "{}")) ++
      Seq((9L, 1L, 0L, "b", 1.0, "{}"), (10L, 1L, 0L, "b", 2.0, "{}")): _*)
    val got = Relational.eventsNtile(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", 1L, 2L, 300L), ("a", 2L, 2L, 700L),
      ("a", 3L, 2L, 1100L), ("a", 4L, 2L, 1500L),
      ("b", 1L, 1L, 100L), ("b", 2L, 1L, 200L)))
  }

  test("userFirstLast takes the total-ordered endpoints per user") {
    val e = events(
      (2L, 1L, 100L, "view", 0.0, "{}"),
      (1L, 1L, 100L, "signup", 0.0, "{}"),  // ts tie -> event_id breaks it
      (3L, 1L, 300L, "purchase", 0.0, "{}"),
      (4L, 2L, 0L, "click", 0.0, "{}"))
    val got = Relational.userFirstLast(e).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "signup", "purchase", 3L),
      (2L, "click", "click", 1L)))
  }

  test("snapshot upsert: update wins, snapshot survives, new user appears") {
    val e = events(
      (1L, 1L, 100L, "view", 0.0, "{}"),      // user 1 snapshot
      (2L, 1L, 900L, "click", 0.0, "{}"),     // user 1 update (wins)
      (3L, 2L, 200L, "view", 0.0, "{}"),      // user 2 snapshot only
      (4L, 3L, 950L, "signup", 0.0, "{}"))    // user 3 update only
    val got = Relational.snapshotUpsert(e, splitMs = 500L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(got.toSeq == Seq((1L, 2L, "click"), (2L, 3L, "view"),
      (3L, 4L, "signup")))
  }

  test("weekly rollup equals re-aggregated daily sums") {
    val day = 86_400_000L
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"),
      (2L, 1L, 3 * day, "a", 2.0, "{}"),   // same week 0
      (3L, 1L, 8 * day, "a", 4.0, "{}"))   // week 1
    val got = Relational.weeklyFromDaily(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 2L, 300L), (1L, 1L, 400L)))
  }

  test("GraftExtensions injects the TopK planner strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val strategies =
      org.apache.spark.sql.GraftColumnBridge.plannerStrategies(ext, spark)
    assert(strategies.contains(graft.plans.TopKStrategy))
  }

  test("percent_rank quartile counts follow the (rank-1)/(n-1) definition") {
    // 5 rows: pr = 0, .25, .5, .75, 1 -> two rows at pr <= 0.25
    val e = events((1L to 5L).map(i => (i, 1L, 0L, "a", i.toDouble, "{}")): _*)
    val r = Relational.eventsPercentRank(e).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 2L, 300L)))
  }

  test("RANGE frame includes timestamp ties and the full preceding window") {
    val e = events(
      (1L, 1L, 0L, "a", 1.0, "{}"),
      (2L, 1L, 0L, "a", 2.0, "{}"),        // tie: both rows see both
      (3L, 1L, 600_000L, "a", 4.0, "{}"),  // still in range of t=0
      (4L, 1L, 1_300_000L, "a", 3.0, "{}")) // out of range of all others
    val r = Relational.peakWindowSpend(e).collect().head
    assert(r.getLong(1) == 700L && r.getLong(2) == 4L)  // 100+200+400 peak
  }

  test("melt inverts the pivot to tall rows") {
    val e = events(
      (1L, 1L, 0L, "view", 0.0, "{}"),
      (2L, 1L, 0L, "click", 0.0, "{}"))
    val got = Relational.eventTypeMelt(e).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got("n_total") == 2L && got("n_click") == 1L &&
      got("n_view") == 1L && got("n_error") == 0L && got.size == 6)
  }

  test("valueOutliers flags the far point and nothing else") {
    import spark.implicits._
    // 10 values at 1.00 plus one at 100.00: only the spike deviates
    val e = ((1L to 10L).map(i => (i, 1L, i * 1000, "view", 1.0)) :+
      (11L, 1L, 11000L, "view", 100.0))
      .toDF("event_id", "user_id", "ts_ms", "event_type", "value")
    val got = Relational.valueOutliers(e, k = 3).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(11L))
    assert(got.head.getAs[Long]("value_c") == 10000L)
  }

  test("q2/q11/q16/q20/q21 return sane shapes on sf0.001") {
    val q2 = Relational.q2MinCostSupplier(spark, sf0001)
    assert(q2.count() > 0 && q2.count() <= 100)
    // every surviving (part, cost) is that part's minimum
    val q11 = Relational.q11ImportantParts(spark, sf0001).collect()
    assert(q11.map(_.getLong(1)).sorted.reverse.toSeq ==
      q11.map(_.getLong(1)).toSeq)  // ordered by value desc
    assert(Relational.q16SupplierCount(spark, sf0001).count() > 0)
    assert(Relational.q20PromotionSuppliers(spark, sf0001,
      minCentiQty = 0L).count() > 0)
    val q21 = Relational.q21WaitingSuppliers(spark, sf0001, lateDays = 30)
    assert(q21.count() > 0)
  }

  test("scd2 collapses runs, versions intervals, sentinels the open row") {
    val e = events(
      (1L, 1L, 1000L, "view", 0.0, "{}"),
      (2L, 1L, 2000L, "view", 0.0, "{}"),   // same state: no new version
      (3L, 1L, 3000L, "click", 0.0, "{}"),
      (4L, 1L, 5000L, "view", 0.0, "{}"),   // back to view: NEW version
      (5L, 2L, 100L, "buy", 0.0, "{}"))
    val got = Relational.scd2(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, "view", 1000L, 3000L),
      (1L, 2L, "click", 3000L, 5000L),
      (1L, 3L, "view", 5000L, 253402300799999L),
      (2L, 1L, "buy", 100L, 253402300799999L)))
  }

  test("cogroup merges both sides per key with zeros for absent sides") {
    val e = events((1L, 1L, 0L, "a", 2.50, "{}"), (2L, 2L, 0L, "a", 1.00, "{}"))
    val o = Seq((10L, 2L, 3.00), (11L, 3L, 4.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val got = Relational.cogroupUserActivity(e, o).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 250L, 0L, 0L),
      (2L, 1L, 100L, 1L, 300L),
      (3L, 0L, 0L, 1L, 400L)))
  }

  test("valueMad: doubled-unit median/MAD are exact, far point flagged") {
    val e = events(
      (1L, 1L, 0L, "x", 1.00, "{}"), (2L, 1L, 0L, "x", 2.00, "{}"),
      (3L, 1L, 0L, "x", 3.00, "{}"), (4L, 1L, 0L, "x", 4.00, "{}"),
      (5L, 1L, 0L, "x", 100.00, "{}"))
    val r = Relational.valueMad(e).collect().head
    // cents 100..400,10000: med=300 -> med_x2=600; dev2={400,200,0,200,19400},
    // median(dev2)=200 -> mad_x4=400; outlier test dev2*2>1200 -> only 19400
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((600L, 400L, 5L, 1L)))
  }

  test("gapFillDaily: dense spine, forward fill, leading gap = 0") {
    val day = 86400000L
    val e = events(
      (1L, 1L, 0L * day, "a", 1.00, "{}"),
      (2L, 1L, 2L * day, "a", 2.00, "{}"),   // day 1 missing -> carry 100
      (3L, 2L, 2L * day, "a", 5.00, "{}"))   // days 0,1 missing -> lead 0
    val got = Relational.gapFillDaily(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 100L, 0L), (1L, 1L, 100L, 1L), (1L, 2L, 200L, 0L),
      (2L, 0L, 0L, 1L), (2L, 1L, 0L, 1L), (2L, 2L, 500L, 0L)))
  }

  test("cohortMatrix: first-week cohorts, distinct users per offset") {
    val wk = 604800000L
    val e = events(
      (1L, 1L, 0L, "a", 0.0, "{}"),
      (2L, 1L, 2 * wk, "a", 0.0, "{}"),
      (3L, 1L, 2 * wk + 1, "a", 0.0, "{}"),  // same user+week: 1 distinct
      (4L, 2L, 2 * wk, "a", 0.0, "{}"))
    val got = Relational.cohortMatrix(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
  }

  test("q1/q3/window queries return sane shapes on sf0.001") {
    assert(Relational.q1Pricing(spark, sf0001).count() > 0)
    assert(Relational.q3Revenue(spark, sf0001).count() <= 10)
    assert(Relational.q5LocalSupplierRevenue(spark, sf0001).count() > 0)
    val w = Relational.topOrdersPerCustomer(spark, sf0001, 3)
    assert(w.groupBy("o_custkey").count().agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0) <= 3)
  }

  test("dauWau: 7-day window distinct via explode") {
    val day = 86400000L
    // u1 active days 0 and 6 (one WAU window apart); u2 active day 6
    val ev = Seq((1L, 1L, "view", 0.0, 0L), (1L, 2L, "view", 0.0, 1000L),
        (1L, 3L, "view", 0.0, 6 * day), (2L, 4L, "view", 0.0, 6 * day))
      .toDF("user_id", "event_id", "event_type", "value", "ts_ms")
    val got = Relational.dauWau(ev).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    // day 0: dau 1, window [-6..0] actives {u1} -> 1e6
    // day 6: dau 2, window [0..6] actives {u1, u2} -> 1e6
    assert(got.toSeq == Seq(
      (0L, (1L, 1L, 1000000L)), (6L, (2L, 2L, 1000000L))))
  }

  test("errorRateDaily: truncating ppm per day") {
    val day = 86400000L
    val ev = Seq((1L, 1L, "error", 0.0, 0L), (1L, 2L, "click", 0.0, 1L),
        (1L, 3L, "view", 0.0, 2L), (2L, 4L, "click", 0.0, day),
        (2L, 5L, "view", 0.0, day + 1))
      .toDF("user_id", "event_id", "event_type", "value", "ts_ms")
    val got = Relational.errorRateDaily(ev).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.toSeq == Seq((0L, (3L, 1L, 333333L)), (1L, (2L, 0L, 0L))))
  }

  test("rfmSegments: aligned quartile tiers label each customer") {
    // customer i: i orders on day i at 10·i each -> recency, frequency,
    // monetary all rank i among [1..4]; quartile cuts of [1,2,3,4] are
    // (1.75, 2.5, 3.25) -> tier i exactly
    val rows = for (i <- 1 to 4; j <- 1 to i)
      yield (i.toLong, 100L + i * 10 + j, s"1998-01-0$i 00:00:00", i * 10.0)
    val orders = rows
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = Relational.rfmSegments(orders).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "1-1-1" -> ((1L, 1000L)), "2-2-2" -> ((1L, 4000L)),
      "3-3-3" -> ((1L, 9000L)), "4-4-4" -> ((1L, 16000L))))
  }

  test("conversionTime: per-stage delays, non-converters excluded") {
    val day = 86400000L
    val ev = Seq(
      // u1 converts fully: view -> signup (+1d) -> purchase (+2d more)
      (1L, 1L, "view", 0.0, 0L), (1L, 2L, "signup", 0.0, day),
      (1L, 3L, "purchase", 0.0, 3 * day),
      // u2 stalls after signup (+2d); purchase BEFORE view must not count
      (2L, 4L, "purchase", 0.0, 0L), (2L, 5L, "view", 0.0, day),
      (2L, 6L, "signup", 0.0, 3 * day))
      .toDF("user_id", "event_id", "event_type", "value", "ts_ms")
    val got = Relational.conversionTime(ev).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // view>signup deltas: u1 = 1d, u2 = 2d -> p50 = 1.5d
    assert(got("view>signup") == ((2L, day, 2 * day, 1.5 * day)))
    // signup>purchase: only u1 (u2's purchase precedes its signup)
    assert(got("signup>purchase") == ((1L, 2 * day, 2 * day, 2.0 * day)))
  }

  test("anomalyDow flags days breaking their weekday median") {
    val day = 86400000L
    // one event_type; same weekday over 3 weeks with daily counts
    // 2/10/10 (day 0 -> low) and 10/10/40 on the next weekday
    // (day 15 -> high); middle days are on-baseline
    def burst(d: Long, n: Int, idBase: Long) = (0 until n).map(j =>
      (1L, idBase + j, "click", 0.0, d * day + j * 1000L))
    val ev = (burst(0, 2, 100) ++ burst(7, 10, 200) ++ burst(14, 10, 300) ++
      burst(1, 10, 400) ++ burst(8, 10, 500) ++ burst(15, 40, 600))
      .toDF("user_id", "event_id", "event_type", "value", "ts_ms")
    val got = Relational.anomalyDow(ev).collect()
      .map(r => (r.getLong(0), r.getString(4))).toMap
    assert(got == Map(0L -> "low", 15L -> "high"))
  }

  test("journeyPaths: opening path per session, short sessions excluded") {
    val h = 3600000L
    // user 1: two sessions with the same 3-event opening (the second
    // has a 4th event that must NOT extend the path); user 2: a 2-event
    // session (excluded)
    val ev = Seq(
      (1L, 1L, "click", 0L), (1L, 2L, "view", 1000L), (1L, 3L, "purchase", 2000L),
      (1L, 4L, "click", 10 * h), (1L, 5L, "view", 10 * h + 1000),
      (1L, 6L, "purchase", 10 * h + 2000), (1L, 7L, "error", 10 * h + 3000),
      (2L, 8L, "view", 0L), (2L, 9L, "click", 1000L))
      .toDF("user_id", "event_id", "event_type", "ts_ms")
    val got = Relational.journeyPaths(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("click>view>purchase", 2L)))
  }

  test("lastTouchAttribution credits the latest in-window touch") {
    val day = 86400000L
    // (user, event_id, type, value, ts_ms)
    val ev = Seq(
      // u1: click then purchase next day -> click
      (1L, 1L, "click", 0.0, 0L), (1L, 2L, "purchase", 10.0, day),
      // u2: view, purchase 8 days later -> outside 7d window -> direct
      (2L, 3L, "view", 0.0, 0L), (2L, 4L, "purchase", 20.0, 8 * day),
      // u3: no prior touch at all -> direct
      (3L, 5L, "purchase", 30.0, day),
      // u4: click then view then purchase -> LATEST touch (view) wins;
      // a later click after the purchase must not count
      (4L, 6L, "click", 0.0, 0L), (4L, 7L, "view", 0.0, day),
      (4L, 8L, "purchase", 40.0, 2 * day), (4L, 9L, "click", 0.0, 3 * day))
      .toDF("user_id", "event_id", "event_type", "value", "ts_ms")
    val got = Relational.lastTouchAttribution(ev).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "click" -> ((1L, 1000L)),
      "direct" -> ((2L, 5000L)),
      "view" -> ((1L, 4000L))))
  }

  test("customerClvDecay halves an order's value per 30-day age bucket") {
    import org.apache.spark.sql.functions.{col, expr}
    // snapshot = day 90: ages 90, 30, 0 days -> shifts 3, 1, 0
    val o = Seq((1L, 80.0, 0L), (1L, 80.0, 60L), (2L, 80.0, 90L))
      .toDF("o_custkey", "o_totalprice", "d")
      .select(col("o_custkey"), col("o_totalprice"),
        expr("timestamp_millis(d * 86400000)").as("o_orderdate"))
    val got = Relational.customerClvDecay(o).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    // cust 2: 8000 cents fresh; cust 1: 8000>>3 + 8000>>1 = 1000+4000
    assert(got == Seq((2L, 8000L), (1L, 5000L)))
  }

  test("userBehaviorFeatures: gaps, days, and busiest day per user") {
    val e = events(
      (1L, 1L, 1000L, "a", 0.0, "{}"),
      (2L, 1L, 1500L, "a", 0.0, "{}"),
      (3L, 1L, 86400000L + 9000L, "a", 0.0, "{}"),
      (4L, 2L, 5000L, "a", 0.0, "{}"))
    val got = Relational.userBehaviorFeatures(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // user 1: 3 events, 2 days, busiest day 2, min gap 500ms
    // user 2: single event -> min_gap sentinel -1
    assert(got == Seq((1L, 3L, 2L, 2L, 500L), (2L, 1L, 1L, 1L, -1L)))
  }

  test("nationYoyRevenue: doubling year scores +1000000 ppm") {
    import org.apache.spark.sql.functions.{col, expr}
    val li = Seq((1L, 10.0, 100L), (1L, 20.0, 500L))
      .toDF("l_suppkey", "l_extendedprice", "d")
      .select(col("l_suppkey"), col("l_extendedprice"),
        expr("timestamp_millis(d * 86400000)").as("l_shipdate"))
    val sup = Seq((1L, 7)).toDF("s_suppkey", "s_nationkey")
    val nat = Seq((7, "GRAFTLAND")).toDF("n_nationkey", "n_name")
    val got = Relational.nationYoyRevenue(li, sup, nat).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    // 1970: 1000 cents; 1971: 2000 cents -> +100%
    assert(got == Seq(("GRAFTLAND", 1971L, 1000000L)))
  }

  test("eventTypeGini: 0 for a pure day, 500000 for a 50/50 day") {
    val day = 86400000L
    val e = events(
      (1L, 1L, 1L, "a", 0.0, "{}"), (2L, 1L, 2L, "a", 0.0, "{}"),
      (3L, 1L, day + 1, "a", 0.0, "{}"), (4L, 1L, day + 2, "b", 0.0, "{}"))
    val got = Relational.eventTypeGini(e).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L), (1L, 500000L)))
  }

  test("partsParetoCurve: running share hits 1000000 at the last part") {
    val li = Seq((1L, 60.0), (2L, 30.0), (3L, 10.0))
      .toDF("l_partkey", "l_extendedprice")
    val got = Relational.partsParetoCurve(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, 1L, 600000L), (2L, 2L, 900000L), (3L, 3L, 1000000L)))
  }

  test("abTestReport: hash arms partition users, conversion is per-user high-value purchase") {
    val e = events(
      (1L, 1L, 1000L, "purchase", 155.0, "{}"),
      (2L, 1L, 2000L, "purchase", 155.0, "{}"),  // same user converts once
      (3L, 2L, 1000L, "view", 0.0, "{}"),
      (4L, 3L, 1000L, "purchase", 150.0, "{}"),  // boundary: 15000 cents
      (5L, 4L, 1000L, "purchase", 149.99, "{}")) // below threshold: no conv
    val got = Relational.abTestReport(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq.sorted == got.map(_._1).toSeq) // ordered by arm
    assert(got.map(_._2).sum == 4L)  // arms partition the 4 users
    assert(got.map(_._3).sum == 2L)  // users 1 and 3 converted, once each
    assert(got.forall { case (_, n, c, ppm) => ppm == c * 1000000L / n })
    // deterministic: same assignment on a re-run
    val again = Relational.abTestReport(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == again.toSeq)
  }

  test("newVsReturning: a user is new exactly on their first-seen day") {
    val day = 86400000L
    val e = events(
      (1L, 1L, 1L, "a", 0.0, "{}"),
      (2L, 1L, day + 1, "a", 0.0, "{}"),
      (3L, 2L, day + 2, "a", 0.0, "{}"),
      (4L, 2L, day + 3, "a", 0.0, "{}"))  // same user, same day: one row
    val got = Relational.newVsReturning(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, 0L), (1L, 1L, 1L)))
  }

  test("eventsCusumSplit finds the regime-change day") {
    val day = 86400000L
    def at(d: Long, k: Long) = (d * 100 + k, 1L, d * day + 1, "a", 0.0, "{}")
    // days 0-1: 1 event, days 2-3: 5 events -> mean 3, cusum -2,-4,-2,0
    val e = events((Seq(at(0, 0), at(1, 0)) ++
      (0L until 5L).map(at(2, _)) ++ (0L until 5L).map(at(3, _))): _*)
    val r = Relational.eventsCusumSplit(e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((4L, 3L, 1L, 4L)))
  }

  test("openBacklog: sweep-line deltas cumulate to the open-order curve") {
    import org.apache.spark.sql.functions.{col, expr}
    val orders = Seq((1L, 0L), (2L, 1L)).toDF("o_orderkey", "d")
      .select(col("o_orderkey"), expr("timestamp_millis(d * 86400000)").as("o_orderdate"))
    val li = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("l_orderkey", "d")
      .select(col("l_orderkey"), expr("timestamp_millis(d * 86400000)").as("l_shipdate"))
    val got = Relational.openBacklog(orders, li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // order 1 closes at its MAX ship day (3), not its first
    assert(got == Seq((0L, 1L, 0L, 1L), (1L, 1L, 0L, 2L), (3L, 0L, 2L, 0L)))
  }

  test("discountSlope: exact OLS on a hand-computed pair") {
    val li = Seq((0.00, 10.0), (0.10, 20.0)).toDF("l_discount", "l_quantity")
    val r = Relational.discountSlope(li).collect().head
    // x = 0,10; y = 10,20: num = 2*200-10*30 = 100, den = 2*100-100 = 100
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) == ((100L, 100L, 1000000L)))
  }

  test("scd2Lookup: purchases see the version valid AT their timestamp") {
    // purchases are events too, so a purchase OPENS its own version:
    // v1 view [1000,3000), v2 purchase [3000,7000) (the 5000 purchase
    // is a same-type run, no new version), v3 click [7000,8000),
    // v4 purchase [8000,inf) — each purchase lands in the interval
    // whose valid_from <= ts < valid_to
    val e = events(
      (1L, 1L, 1000L, "view", 0.0, "{}"),
      (2L, 1L, 3000L, "purchase", 9.0, "{}"),
      (3L, 1L, 5000L, "purchase", 9.0, "{}"),
      (4L, 1L, 7000L, "click", 0.0, "{}"),
      (5L, 1L, 8000L, "purchase", 9.0, "{}"))
    val got = Relational.scd2Lookup(e).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq((2L, "purchase", 2L), (3L, "purchase", 2L),
      (5L, "purchase", 4L)))
  }

  test("eventsAutocorrLag: alternating series correlates perfectly at its period") {
    val day = 86400000L
    // days 0..9: 10,2,10,2,... -> mean 6, d = ±4
    val rows = (0L until 10L).flatMap { dd =>
      val k = if (dd % 2 == 0) 10L else 2L
      (0L until k).map(j => (dd * 100 + j, 1L, dd * day + 1, "a", 0.0, "{}"))
    }
    val e = events(rows: _*)
    val r = Relational.eventsAutocorrLag(e, lag = 2).collect().head
    // den = 10*16 = 160; num = 8 pairs * 16 = 128; r = 128/160 = 0.8
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((10L, 6L, 128L, 160L, 800000L)))
    // anti-phase at lag 1: num = 9 * (-16) = -144 -> r = -0.9 exactly
    val r1 = Relational.eventsAutocorrLag(e, lag = 1).collect().head
    assert(r1.getLong(2) == -144L && r1.getLong(4) == -900000L)
  }

  test("eventsHolt: level tracks a linear ramp, trend converges to the step") {
    val day = 86400000L
    def at(d: Long, k: Long) = (d * 100 + k, 1L, d * day + 1, "a", 0.0, "{}")
    // counts 2, 4, 6, 8: l1=2 b1=0; l2=(4+2+0)/2=3 b2=(3-2+0)/2=0;
    // l3=(6+3+0)/2=4 b3=(4-3+0)/2=0; l4=(8+4+0)/2=6 b4=(6-4+0)/2=1
    val e = events((0L until 2L).map(at(0, _)) ++ (0L until 4L).map(at(1, _)) ++
      (0L until 6L).map(at(2, _)) ++ (0L until 8L).map(at(3, _)): _*)
    val got = Relational.eventsHolt(e).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((0L, 2L, 2L, 0L), (1L, 4L, 3L, 0L),
      (2L, 6L, 4L, 0L), (3L, 8L, 6L, 1L)))
  }

  test("partMonthlyTrend: exact grouped OLS slope per part") {
    import org.apache.spark.sql.functions.{col, expr}
    // part 1: qty 10 then 30 over two consecutive months -> slope 20/mo
    // part 2: flat -> slope 0; part 3: one month -> filtered (den = 0)
    val li = Seq((1L, 0L, 10.0), (1L, 31L, 30.0),
      (2L, 0L, 7.0), (2L, 31L, 7.0), (3L, 0L, 5.0))
      .toDF("l_partkey", "d", "l_quantity")
      .select(col("l_partkey"), col("l_quantity"),
        expr("timestamp_millis(d * 86400000)").as("l_shipdate"))
    val got = Relational.partMonthlyTrend(li).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    assert(got == Seq((1L, 20000000L), (2L, 0L)))
  }

  test("eventsEwma: s1 = n1, then truncating halving recurrence per type") {
    val day = 86400000L
    def at(d: Long, k: Long) = (d * 100 + k, 1L, d * day + 1, "a", 0.0, "{}")
    // day 0: 5 events, day 1: 3, day 2: 10  ->  ewma 5, 4, 7
    val e = events(
      ((0L until 5L).map(at(0, _)) ++ (0L until 3L).map(at(1, _)) ++
        (0L until 10L).map(at(2, _))): _*)
    val got = Relational.eventsEwma(e).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 5L, 5L), (1L, 3L, 4L), (2L, 10L, 7L)))
  }

  private val H = 3600000L

  private def funnelEvents(rows: (Long, Long, String, Long)*) =
    rows.toDF("user_id", "event_id", "event_type", "ts_ms")

  test("windowFunnelN: greedy earliest-next-step chain hand-trace") {
    // user 1 completes all 4 steps inside 6h of the view; user 2's
    // signup lands OUTSIDE the view window (click ok, then 7h gap);
    // user 3 has click before any view (never starts a chain);
    // user 4 completes step 4 exactly AT vt + w (inclusive bound)
    val e = funnelEvents(
      (1L, 1L, "view", 0L), (1L, 2L, "click", H), (1L, 3L, "signup", 2 * H),
      (1L, 4L, "purchase", 3 * H),
      (2L, 5L, "view", 0L), (2L, 6L, "click", H), (2L, 7L, "signup", 8 * H),
      (3L, 8L, "click", 0L), (3L, 9L, "view", H),
      (4L, 10L, "view", 0L), (4L, 11L, "click", H), (4L, 12L, "signup", 2 * H),
      (4L, 13L, "purchase", 6 * H))
    val r = operators.Relational.windowFunnelN(e,
      Seq("view", "click", "signup", "purchase")).collect()(0)
    // step1: users 1,2,3,4 viewed; step2: 1,2,4 clicked in-window;
    // step3: 1,4; step4: 1,4 (user 4 at the inclusive boundary)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 2L, 2L)))
  }

  test("windowFunnelN: a later view rescues a failed first chain") {
    // first view's window closes before the purchase; the second view
    // starts a fresh chain that completes — the user converts
    val e = funnelEvents(
      (1L, 1L, "view", 0L), (1L, 2L, "signup", H),
      (1L, 3L, "view", 10 * H), (1L, 4L, "signup", 11 * H),
      (1L, 5L, "purchase", 12 * H))
    val r = operators.Relational.windowFunnelN(e,
      Seq("view", "signup", "purchase")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 1L)))
  }

  test("windowFunnelN(3 steps) values equal the hard-wired windowFunnel") {
    // brute-force reference: a user reaches a step iff SOME chain of
    // step events exists, each strictly after the last and all inside
    // 6h of the chain's view (no greedy choice anywhere)
    val events = Tables.events(spark, sf0001)
    val n = operators.Relational.windowFunnelN(events,
      Seq("view", "signup", "purchase")).collect()(0)
    val w = 6 * 3600000L
    val perUser = events.select("user_id", "event_type", "ts_ms").collect()
      .groupBy(_.getLong(0)).values.map { rs =>
        def at(t: String) = rs.filter(_.getString(1) == t).map(_.getLong(2))
        val (v, s, p) = (at("view"), at("signup"), at("purchase"))
        (v.nonEmpty,
          v.exists(vt => s.exists(st => st > vt && st <= vt + w)),
          v.exists(vt => s.exists(st => st > vt &&
            p.exists(pt => pt > st && pt <= vt + w))))
      }.toSeq
    val want = Seq(perUser.count(_._1), perUser.count(_._2),
      perUser.count(_._3)).map(_.toLong)
    assert(Seq(n.getLong(0), n.getLong(1), n.getLong(2)) == want)
    assert(want(2) > 0L, "the fixture must hold a full conversion")
    assert(Seq(n.getLong(3), n.getLong(4)) ==
      Seq(want(1) * 1000000L / want(0), want(2) * 1000000L / want(0)))
  }

  test("madOutliers: one spike day flagged against a zero-MAD baseline") {
    // type 'a': days 0-3 carry 1 event, day 4 carries 10 → med2 = 2,
    // dev2 = [0,0,0,0,18], mad4 = 0; only the spike satisfies
    // 2·dev2 > 3·mad4 (a zero MAD means ANY deviation is anomalous)
    val rows = (0 to 3).map(d => (1L, d.toLong * 86400000L, "a")) ++
      (0 until 10).map(i => (1L, 4L * 86400000L + i, "a"))
    val e = rows.toDF("user_id", "ts_ms", "event_type")
    val got = operators.Relational.madOutliers(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(("a", 4L, 10L, 18L, 0L)))
  }

  test("cusumChangepoint: level shift located at the pre-shift day") {
    // daily counts [1,1,4]: T=6, D=3 → S = [-3,-6,0]; |S| max at day 1
    val rows = Seq((1L, 0L), (1L, 86400000L)) ++
      (0 until 4).map(i => (1L, 2L * 86400000L + i))
    val e = rows.toDF("user_id", "ts_ms")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("x"))
    val r = operators.Relational.cusumChangepoint(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 6L)))
  }

  test("funnelLatency: per-user latency is the FASTEST completed chain") {
    val H = 3600000L
    val e = funnelEvents(
      (1L, 1L, "view", 0L), (1L, 2L, "signup", H), (1L, 3L, "purchase", 2 * H),
      (1L, 4L, "view", 10 * H), (1L, 5L, "signup", 10 * H + H / 2),
      (1L, 6L, "purchase", 11 * H))
    val r = operators.Relational.funnelLatency(e).collect()(0)
    // chains complete at 2h and 1h; the user's latency is 1h
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, H, 2 * H, H)))
  }
}
