package graft

import org.apache.spark.sql.functions._

/** Round-9 session-3 specs: HLL registers (mergeability + accuracy
  * band + streaming equality), IVM delta merge incl. the
  * delete-to-empty group, blocking eval's completeness invariant,
  * the Kaplan–Meier life table hand-trace, depth-3 subsequence
  * support hand-trace, and the bitmap-index layout contrast.
  */
class Round9cSpec extends SparkSpec {
  import spark.implicits._

  private def dfOfStrings(ss: Seq[String]) = ss.toDF("gram")

  test("hllRegisters: merging per-half registers by max = whole-corpus registers") {
    val items = (0 until 5000).map(i => s"item-$i")
    val whole = operators.TextAnalysis.hllRegisters(dfOfStrings(items), "gram", 64)
    val a = operators.TextAnalysis.hllRegisters(dfOfStrings(items.take(3000)), "gram", 64)
    val b = operators.TextAnalysis.hllRegisters(dfOfStrings(items.drop(2000)), "gram", 64)
    val merged = a.unionByName(b).groupBy("bucket")
      .agg(max("max_rho").as("max_rho"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "register tables must merge by elementwise max (the HLL contract)")
  }

  test("hllRegisters: rho bounds and bucket domain hold") {
    val regs = operators.TextAnalysis
      .hllRegisters(dfOfStrings((0 until 1000).map(_.toString)), "gram", 64)
      .collect()
    assert(regs.length <= 64)
    assert(regs.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 64))
    assert(regs.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 55))
  }

  test("hllDistinct estimate lands within 3 sigma on a known cardinality") {
    // letter-only tokens: the reference tokenizer keeps only the
    // leading alphabetic run, so digits would collapse every token
    def alpha(n: Int): String =
      n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val docs = (0 until 400).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${alpha(i)}x${alpha(j)}").mkString(" ")))
      .toDF("doc_id", "text")
    // 400 docs x 28 distinct trigrams each, no overlap => 11200 distinct
    val row = operators.TextAnalysis.hllDistinct(docs).collect().head
    val exact = row.getAs[Long]("n_exact")
    assert(exact == 11200L)
    val est = row.getAs[Long]("est_distinct")
    // 3 sigma for m=64 is ~39% (1.04/sqrt(64) per sigma)
    assert(math.abs(est - exact).toDouble / exact < 0.39,
      s"raw HLL estimate $est too far from $exact")
    assert(row.getAs[Long]("err_ppm") ==
      math.abs(est - exact) * 1000000L / exact)
  }

  test("streaming HLL summary equals the batch summary on testdata") {
    val batch = operators.TextAnalysis
      .hllDistinct(Tables.documents(spark, sf0001)).collect().toSeq
    val streamed = streaming.Streams
      .hllDistinctAvailableNow(spark, sf0001).collect().toSeq
    assert(streamed == batch,
      "registers streamed to completion must equal the batch registers")
  }

  test("ivmAggDelta equals a from-scratch recompute on testdata") {
    val li = Tables.lineitem(spark, sf0001).select(
      col("l_orderkey"), col("l_returnflag"),
      col("l_quantity").cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    val recomputed = li.where(col("l_orderkey") % 97 =!= 0)
      .select("l_returnflag", "qty", "price_c")
      .unionByName(li.where(col("l_orderkey") % 101 === 0)
        .select(col("l_returnflag"), (col("qty") + 3).as("qty"),
          (col("price_c") + 500).as("price_c")))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum("qty").as("sum_qty"),
        sum("price_c").as("sum_price_c"))
      .orderBy("l_returnflag").collect().toSeq
    val maintained =
      operators.Relational.ivmAggDelta(Tables.lineitem(spark, sf0001)).collect().toSeq
    assert(maintained == recomputed, "M + delta must equal recompute")
  }

  test("ivmAggDelta drops a group whose maintained count reaches zero") {
    // flag Z: every row deleted (orderkey 97 ≡ 0 mod 97), none reinserted
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    Seq((97L, "Z", 5.0, 10.0), (194L, "Z", 6.0, 20.0),
        (1L, "K", 7.0, 30.0), (101L, "K", 8.0, 40.0))
      .toDF("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Relational.ivmAggDelta(
      spark.read.parquet(s"$dir/lineitem.parquet")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("K"),
      "the fully-deleted group must vanish from the maintained view")
    // K: rows 1 and 101 survive; 101 also reinserted with qty+3/+5.00
    assert(got.head.getLong(1) == 3L && got.head.getLong(2) == 7 + 8 + 11)
  }

  test("streaming IVM view equals the batch IVM after two micro-batches") {
    val streamed = streaming.Streams
      .ivmAggAvailableNow(spark, sf0001).collect().toSeq
    val batch = operators.Relational
      .ivmAggDelta(Tables.lineitem(spark, sf0001)).collect().toSeq
    assert(streamed == batch,
      "per-batch signed merges must compose to the batch view")
  }

  test("blockingEval: SymSpell blocking is complete on a traced fixture") {
    val cust = Seq(
      (1L, "alpha", 0L), (2L, "alphax", 0L),  // lev 1 (insertion)
      (3L, "alpba", 0L),                      // lev 1 vs alpha (subst)
      (4L, "omega", 0L), (5L, "alpha", 1L)    // same name, other nation
    ).toDF("c_custkey", "c_name", "c_nationkey")
    val row = operators.Dedup.blockingEval(cust).collect().head
    assert(row.getAs[Long]("n_all_pairs") == 6L) // C(4,2) + C(1,2)
    // alphax vs alpba is lev 2, so truth = (1,2), (1,3) only
    assert(row.getAs[Long]("n_truth") == 2L)
    assert(row.getAs[Long]("completeness_ppm") == 1000000L,
      "deletion-variant blocking must not miss a lev<=1 pair")
    assert(row.getAs[Long]("n_cand") >= row.getAs[Long]("n_hit"))
  }

  test("survivalTable life-table hand-trace with censoring") {
    def d(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2020, 1, 1).plusDays(day).atStartOfDay())
    val orders = Seq(
      (10L, 1L, d(0)), (11L, 1L, d(30)),  // cust 1: event, gap 30 -> bucket 1
      (20L, 2L, d(0)),                    // cust 2: censored at day 60 -> bucket 2
      (30L, 3L, d(0)), (31L, 3L, d(5)),   // cust 3: event, gap 5 -> bucket 0
      (40L, 4L, d(60))                    // cust 4: censored at gap 0 -> bucket 0
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = operators.Relational.survivalTable(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 4L, 1L, 1L),  // bucket 0: all 4 at risk, cust3 event, cust4 censored
      (1L, 2L, 1L, 0L),  // bucket 1: custs 1,2 at risk, cust1 event
      (2L, 1L, 0L, 1L))) // bucket 2: cust2 censored
  }

  test("seqPatterns3 subsequence support hand-trace") {
    val ev = Seq(
      // user 1: a b c  -> contains exactly one distinct-position triple a,b,c
      (1L, 1L, "a", 1000L), (2L, 1L, "b", 2000L), (3L, 1L, "c", 3000L),
      // user 2: a c b c -> triples: (a,c,b) (a,c,c) (a,b,c) (c,b,c)
      (4L, 2L, "a", 1000L), (5L, 2L, "c", 2000L),
      (6L, 2L, "b", 3000L), (7L, 2L, "c", 4000L)
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val got = operators.Basket.seqPatterns3(ev).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3)))
      .toMap
    assert(got(("a", "b", "c")) == 2L, "both users contain a..b..c")
    assert(got(("a", "c", "b")) == 1L && got(("a", "c", "c")) == 1L &&
      got(("c", "b", "c")) == 1L)
    assert(!got.contains(("b", "a", "c")), "order matters")
    assert(got.values.sum == 5L, "no other triple is supported")
  }

  test("hllDistinctMerged equals the single-pass summary on testdata") {
    val merged = operators.TextAnalysis
      .hllDistinctMerged(Tables.documents(spark, sf0001)).collect().toSeq
    val single = operators.TextAnalysis
      .hllDistinct(Tables.documents(spark, sf0001)).collect().toSeq
    assert(merged == single,
      "per-source register merge must be lossless (max is associative)")
  }

  test("classifierScore: short docs score exactly zero, scores are stable") {
    val docs = Seq((1L, "hello world foo"), (2L, "single"), (3L, ""),
      (4L, "hello world foo")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.classifierScore(docs).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 0L, 0L, 2L), "n_feats")
    assert(got(1).getLong(2) == 0L && got(2).getLong(2) == 0L,
      "<2-token docs carry no features, logit 0")
    assert(got(0).getLong(2) == got(3).getLong(2),
      "identical text scores identically (pure function of content)")
    assert(!got(1).getBoolean(3), "logit 0 is not accepted")
  }

  test("joinCardEstimate: upward-biased, exact when buckets dwarf keys") {
    // 10 keys, multiplicities 1..10 => exact sum c^2 = 385; with
    // w=65536 >> 10 keys collisions are near-impossible
    val li = (1 to 10).flatMap(k => Seq.fill(k)(k.toLong))
      .toDF("l_partkey")
    val row = operators.DataQuality.joinCardEstimate(li).collect().head
    assert(row.getAs[Long]("exact_pairs") == 385L)
    assert(row.getAs[Long]("est_pairs") == 385L,
      "no collisions at w=65536 for 10 keys -> estimate is exact")
    val skewed = (1 to 10).flatMap(k => Seq.fill(k)(k.toLong))
      .toDF("l_partkey")
      .withColumn("l_partkey", col("l_partkey") % 2) // 2 keys, heavy
    val r2 = operators.DataQuality.joinCardEstimate(skewed).collect().head
    assert(r2.getAs[Long]("est_pairs") >= r2.getAs[Long]("exact_pairs"),
      "CMS inner product never underestimates")
  }

  test("windowFunnel hand-trace: steps must fit inside the view's window") {
    val h = 3600000L
    val ev = Seq(
      // user 1: full chain inside 6h of the view
      (1L, 1L, "view", 0L), (2L, 1L, "signup", 1 * h), (3L, 1L, "purchase", 5 * h),
      // user 2: signup lands outside the 6h window
      (4L, 2L, "view", 0L), (5L, 2L, "signup", 7 * h), (6L, 2L, "purchase", 8 * h),
      // user 3: signup in-window, purchase out-of-window
      (7L, 3L, "view", 0L), (8L, 3L, "signup", 1 * h), (9L, 3L, "purchase", 7 * h),
      // user 4: the first view fails but a LATER view starts a chain
      (10L, 4L, "view", 0L), (11L, 4L, "view", 10 * h),
      (12L, 4L, "signup", 11 * h), (13L, 4L, "purchase", 12 * h)
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val row = operators.Relational.windowFunnelN(ev,
      Seq("view", "signup", "purchase")).collect().head
    assert(row.getLong(0) == 4L, "all four users viewed")
    assert(row.getLong(1) == 3L, "users 1, 3, 4 reach signup in-window")
    assert(row.getLong(2) == 2L, "users 1 and 4 convert fully")
  }

  test("theilSenTrend hand-trace: median pairwise slope") {
    // days 0,1,2 with counts 1,3,2 -> slopes 2e6, 5e5, -1e6; median 5e5
    val ev = Seq((1L, 0L), (2L, 86400000L), (3L, 86400000L),
      (4L, 86400000L), (5L, 172800000L), (6L, 172800000L))
      .toDF("event_id", "ts_ms")
    val row = operators.Relational.theilSenTrend(ev).collect().head
    assert(row.getLong(0) == 3L && row.getLong(1) == 3L)
    assert(row.getLong(2) == 1000000L, "doubled median slope = 2*5e5")
  }

  test("markovEval hand-trace: held-out transition never trains itself") {
    val ev = Seq(
      (1L, 1L, "a", 1000L), (2L, 1L, "b", 2000L),
      (3L, 1L, "a", 3000L), (4L, 1L, "b", 4000L), // held out: a->b
      (5L, 2L, "b", 1000L), (6L, 2L, "b", 2000L)  // held out: b->b
    ).toDF("event_id", "user_id", "event_type", "ts_ms")
    val row = operators.Relational.markovEval(ev).collect().head
    // train = user1's first two transitions only: a->b, b->a
    // user1 ctx a -> pred b == actual b (hit); user2 ctx b -> pred a != b
    // baseline: next-counts tie a:1 b:1 -> alphabetical 'a' -> 0 hits
    assert(row.getLong(0) == 2L && row.getLong(1) == 1L &&
      row.getLong(2) == 0L)
    assert(row.getLong(3) == 500000L)
  }

  test("purgeCascade counts the cascade and catches a pre-broken FK") {
    val cust = Seq(53L, 1L, 2L).toDF("c_custkey")
    val ords = Seq((10L, 53L), (20L, 1L), (30L, 99L)) // 30: orphan already
      .toDF("o_orderkey", "o_custkey")
    val li = Seq(10L, 10L, 20L).toDF("l_orderkey")
    val row = operators.Basket.purgeCascade(cust, ords, li).collect().head
    assert(row.getLong(0) == 1L, "cust 53 purged")
    assert(row.getLong(1) == 1L, "order 10 cascades")
    assert(row.getLong(2) == 2L, "both lines of order 10 cascade")
    assert(row.getLong(3) == 2L, "custs 1,2 kept")
    assert(row.getAs[Long]("orphan_orders") == 1L,
      "the integrity proof must surface the pre-existing FK break")
    assert(row.getAs[Long]("orphan_lineitems") == 0L)
  }

  test("classifierCalibration bins partition the scored corpus") {
    val cal = operators.TextAnalysis
      .classifierCalibration(Tables.documents(spark, sf0001)).collect()
    val scored = operators.TextAnalysis
      .classifierScore(Tables.documents(spark, sf0001)).count()
    assert(cal.map(_.getLong(1)).sum == scored, "every doc lands in a bin")
    assert(cal.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(cal.forall(r =>
      r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1)))
  }

  test("ordersReconciliation hand-trace: exact, drifted, and orphan headers") {
    val orders = Seq((1L, 100.00), (2L, 100.00), (3L, 50.00))
      .toDF("o_orderkey", "o_totalprice")
    val li = Seq( // order 1 reconciles exactly; order 2 is 5% over; 3 has no lines
      (1L, 60.0, 0.0, 0.0), (1L, 40.0, 0.0, 0.0),
      (2L, 105.0, 0.0, 0.0)
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val row = operators.Relational.ordersReconciliation(orders, li)
      .collect().head
    assert(row.getLong(0) == 3L && row.getLong(1) == 1L, "orphan header")
    assert(row.getLong(2) == 1L, "order 1 exact")
    assert(row.getLong(4) == 1L, "order 2 in the 1-10% bucket")
    assert(row.getAs[Long]("max_drift_ppm") == 50000L)
  }

  test("fileNdvStats: exact NDV bounded by rows, estimate self-consistent") {
    val got = operators.Layout
      .fileNdvStats(Tables.lineitem(spark, sf0001)).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getLong(2) <= r.getLong(1)), "ndv <= rows")
    assert(got.forall(r => r.getLong(3) > 0), "estimate positive")
    assert(got.forall(r => r.getLong(4) ==
      math.abs(r.getLong(3) - r.getLong(2)) * 1000000L / r.getLong(2)))
  }

  test("bitmapIndexStats: interleaved flags scan everything, sorted scans half") {
    val li = (0L until 64L).map(k => (k, if (k % 2 == 0) "A" else "B"))
      .toDF("l_orderkey", "l_returnflag")
    val got = operators.Layout.bitmapIndexStats(li).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // row-order: both 32-key groups hold both flags -> 2 groups each, sel 1e6;
    // flag-sorted: 32 rows per flag fill exactly one group -> sel 500000
    assert(got == Seq(
      ("A", 32L, 32L, 2L, 1000000L, 1L, 500000L),
      ("B", 32L, 32L, 2L, 1000000L, 1L, 500000L)))
  }
}
