package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, TextAnalysis}

class Round7Spec extends SparkSpec {
  import spark.implicits._

  test("benfordAudit: exact digit extraction and ppm accounting") {
    // 8 orders: digits 1,1,1,1,2,2,3,9 (via cents-string head, no log)
    val orders = Seq(100.00, 19.99, 1234.56, 150.0, 25.50, 2000.0, 3.14,
        90.0)
      .toDF("o_totalprice")
    val got = Relational.benfordAudit(orders).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1) == ((4L, 500000L, 301030L)))        // 4/8 observed
    assert(got(2) == ((2L, 250000L, 176091L)))
    assert(got(3) == ((1L, 125000L, 124939L)))
    assert(got(9) == ((1L, 125000L, 45757L)))
    assert(got.size == 4)
    // dev is |obs - exp| in the same scale
    val dev = Relational.benfordAudit(orders).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(dev(3) == 61L)
  }

  private def ev(rows: Seq[(Long, Long, Long, String)]) =
    rows.toDF("user_id", "event_id", "ts_ms", "event_type")

  test("markovStationary: a deterministic 2-cycle preserves uniform mass") {
    // A→B and B→A with probability 1: stationary = (½, ½) exactly,
    // and the ppm fold loses nothing (p_ppm = 1e6, no truncation).
    val events = ev(Seq(
      (1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"), (1L, 3L, 3L, "A"),
      (2L, 4L, 1L, "B"), (2L, 5L, 2L, "A"), (2L, 6L, 3L, "B")))
    val got = Relational.markovStationary(events, iters = 7).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 500000L, "B" -> 500000L))
  }

  test("markovStationary: per-term floor matches the hand fold") {
    // A→B twice, A→A once; B dangling. p(A→A)=333333, p(A→B)=666666.
    val events = ev(Seq(
      (1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"),
      (2L, 3L, 1L, "A"), (2L, 4L, 2L, "B"),
      (3L, 5L, 1L, "A"), (3L, 6L, 2L, "A")))
    var (a, b) = (500000L, 500000L)
    for (_ <- 1 to 3) {
      val na = a * 333333L / 1000000L
      val nb = a * 666666L / 1000000L
      a = na; b = nb
    }
    val got = Relational.markovStationary(events, iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> a, "B" -> b))
  }

  test("valueBinLift: per-bin error rate and lift vs the corpus rate") {
    // bin 0 (< $50): 1 error of 2; bin 1: 1 error of 6. Global 2/8.
    val events = Seq(
      (10.0, "error"), (20.0, "view"),
      (60.0, "error"), (61.0, "view"), (62.0, "view"), (63.0, "click"),
      (64.0, "view"), (65.0, "view"))
      .toDF("value", "event_type")
    val got = Relational.valueBinLift(events).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got(0L) == ((2L, 1L, 500000L, 2000000L)))
    assert(got(1L) == ((6L, 1L, 166666L, 666664L)))
  }

  test("keywordTag: cleaned-token exact match, dedup, sorted join") {
    val docs = Seq(
      (1L, "Spark! merges the MERGE queue"),   // spark + merge (cleaned)
      (2L, "vector vector window"),            // dup counted once
      (3L, "nothing relevant here"),           // dropped (no hits)
      (4L, "sparky is not spark1"))            // prefix-cleaned to spark
      .toDF("doc_id", "text")
    val got = TextAnalysis.keywordTag(docs,
        Seq("spark", "merge", "query", "vector", "window"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(
      (1L, 2L, "merge,spark"),                 // MERGE lowers, Spark! cleans
      (2L, 2L, "vector,window"),
      (4L, 1L, "spark")))                      // spark1 → "spark"
  }

  test("keywordTag plans with zero exchanges (pure map over the scan)") {
    val docs = Seq((1L, "spark window")).toDF("doc_id", "text")
    val plan = TextAnalysis.keywordTag(docs, Seq("spark"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      s"unexpected shuffle in:\n$plan")
  }

  test("ssspWords: weighted distances with symmetrized multiplicities") {
    // a–b seen twice (cost 500000), b–c once (cost 1000000); source "a"
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "b c"))
      .toDF("doc_id", "text")
    val got = operators.Graph.ssspWords(
        operators.Graph.bigramEdgeCounts(docs), rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 500000L, "c" -> 1500000L))
  }

  test("ordersConcurrency: sweep-line peak open-order counts") {
    def ts(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val orders = Seq((1L, ts(0)), (2L, ts(1)), (3L, ts(1)))
      .toDF("o_orderkey", "o_orderdate")
    val lineitem = Seq(                       // close = max shipdate
      (1L, ts(2)), (1L, ts(1)),
      (2L, ts(1)),
      (3L, ts(3)))
      .toDF("l_orderkey", "l_shipdate")
    val got = Relational.ordersConcurrency(orders, lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // deltas: +1@0 −1@3; +1@1 −1@2; +1@1 −1@4 → cum 1,3,2,1,0
    assert(got.toSeq == Seq((1L, 3L), (2L, 2L), (0L, 1L), (3L, 1L),
      (4L, 0L)))
  }

  test("ksDrift: max CDF gap with smallest attaining value") {
    val events = Seq(
      (1.00, "click"), (2.00, "click"), (2.00, "view"), (5.0, "error"))
      .toDF("value", "event_type")
    val r = Relational.ksDrift(events).collect().head
    // at 100c: F_click=½, F_view=0 → D = 500000 ppm
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 2L, 1L, 500000L)))
  }

  test("quotaSplit: exact 8/1/1 quotas on a 10-doc stratum") {
    val docs = (1L to 10L).map(i => (i, "en")).toDF("doc_id", "lang")
    val got = operators.TextAnalysis.quotaSplit(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("en", "test", 1L), ("en", "train", 8L),
      ("en", "val", 1L)))
  }

  test("itemsets3: apriori item prune is lossless, triple support exact") {
    val lineitem = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 2L), (12L, 4L))        // part 4 infrequent
      .toDF("l_orderkey", "l_partkey")
    val got = operators.Basket.itemsets3(lineitem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 2L)))
  }

  test("seasonalDecompose: uniform series has zero seasonal index") {
    // days 0..13, 2 events each → trend = count → detrended = 0
    val rows = for (d <- 0L to 13L; i <- 1 to 2)
      yield (d * 10 + i, d * 86400000L + i)
    val events = rows.toDF("event_id", "ts_ms")
    val got = Relational.seasonalDecompose(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // full 7-windows exist for days 3..10 → dows 3,4,5,6,0,1,2,3
    assert(got.map(t => t._1 -> t._2).toMap ==
      Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L,
        6L -> 1L))
    assert(got.forall(_._3 == 0L))
  }

  test("userStreaks: island lengths through day gaps") {
    val events = Seq(
      (1L, 1L * 86400000L), (1L, 2L * 86400000L), (1L, 3L * 86400000L),
      (1L, 7L * 86400000L),
      (2L, 5L * 86400000L), (2L, 6L * 86400000L))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
      .toDF("event_id", "user_id", "ts_ms")
    val got = Relational.userStreaks(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (2L, 2L)))
  }

  test("debounceStats: lag-based keep within the 5s gap") {
    val events = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, 3000L, "click"),
      (3L, 1L, 9000L, "click"), (4L, 2L, 100L, "view"))
      .toDF("event_id", "user_id", "ts_ms", "event_type")
    val got = Relational.debounceStats(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("click" -> ((2L, 1L)), "view" -> ((1L, 0L))))
  }

  test("exactMedian2Pass: k-th smallest across bucket boundaries") {
    val odd = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("value")
    val r1 = Relational.exactMedian2Pass(odd).collect().head
    assert((r1.getLong(0), r1.getLong(1)) == ((5L, 300L)))
    // even n takes the LOWER median (k = (n+1) div 2)
    val even = Seq(1.0, 2.0, 3.0, 4.0).toDF("value")
    val r2 = Relational.exactMedian2Pass(even).collect().head
    assert((r2.getLong(0), r2.getLong(1)) == ((4L, 200L)))
    // k-th value sits past the first coarse bucket (cents ≥ 1000)
    val cross = Seq(9.99, 10.01, 10.02).toDF("value")
    val r3 = Relational.exactMedian2Pass(cross).collect().head
    assert((r3.getLong(0), r3.getLong(1)) == ((3L, 1001L)))
  }

  test("supplierHerfindahl: 75/25 split scores HHI 625000") {
    val lineitem = Seq(
      (101L, 0.75, 0.0), (102L, 0.25, 0.0))
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
    val supplier = Seq((101L, 7L), (102L, 7L))
      .toDF("s_suppkey", "s_nationkey")
    val r = Relational.supplierHerfindahl(lineitem, supplier)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((7L, 2L, 625000L)))
  }

  test("silhouette: separated clusters score near 10⁶, bounded in [-1e6,1e6]") {
    val embs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.1f, 10.0f)),
      (6L, Array(10.0f, 10.1f)))
      .toDF("vec_id", "embedding")
    val got = operators.Clustering.silhouette(embs, 2, 5).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).sum == 6L)
    assert(got.forall { case (_, s) => s >= 900000L && s <= 1000000L })
  }

  test("partsSkyline: cummin Pareto frontier over the size domain") {
    val part = Seq((1, 5.0), (2, 3.0), (3, 4.0), (4, 2.0))
      .toDF("p_size", "p_retailprice")
    val got = Relational.partsSkyline(part).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 500L), (2L, 300L), (4L, 200L)))
  }

  test("diameter2Sweep: path graph eccentricity from both sweeps") {
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c d"))
      .toDF("doc_id", "text")
    val r = operators.Graph.diameter2Sweep(operators.Graph.bigramEdges(docs))
      .collect().head
    assert((r.getString(0), r.getString(1), r.getString(2),
      r.getLong(3)) == (("a", "d", "a", 3L)))
  }

  test("exactPercentiles2Pass: ceil-rank grid over 1..10") {
    val events = (1 to 10).map(_.toDouble).toDF("value")
    val got = Relational.exactPercentiles2Pass(events).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == Map(25L -> 300L, 50L -> 500L, 75L -> 800L,
      90L -> 900L, 99L -> 1000L))
  }

  test("ktrussEdges: K4 survives the peel, pendant edge drops round 1") {
    // "a b c d a c b d" walks all 6 K4 edges; "d e" is a pendant.
    // Every K4 edge sits in exactly 2 triangles -> survives minSupport=2
    // through all rounds with final support 2; (d,e) has 0 -> peeled.
    val docs = Seq((1L, "a b c d a c b d"), (2L, "d e"))
      .toDF("doc_id", "text")
    val got = operators.Graph.ktrussEdges(operators.Graph.bigramEdges(docs))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d")))
    assert(got.values.forall(_ == 2L))
  }

  test("ktrussEdges: peel cascades — shared edge dies once its wings do") {
    // Two triangles sharing edge (a,b): ab has support 2, the four
    // wing edges support 1. Round 1 peels the wings; round 2 finds ab
    // triangle-less and peels it too. Nothing survives.
    val docs = Seq((1L, "a b c a"), (2L, "a b d a")).toDF("doc_id", "text")
    assert(operators.Graph.ktrussEdges(operators.Graph.bigramEdges(docs))
      .count() == 0L)
  }

  test("sessionSensitivity: one gap scan, three thresholds") {
    // gaps of 15 min and 35 min: >10 splits both, >30 one, >60 none
    val events = ev(Seq((1L, 1L, 0L, "view"),
      (1L, 2L, 15L * 60000L, "view"), (1L, 3L, 50L * 60000L, "view")))
    val got = Relational.sessionSensitivity(events).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 3L, 30L -> 2L, 60L -> 1L))
  }

  test("interorderGaps: weekly buckets of per-customer day deltas") {
    val orders = Seq(
      (1L, 10L, "1996-01-01"), (1L, 11L, "1996-01-11"),
      (1L, 12L, "1996-01-25"), (2L, 20L, "1996-03-01"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val got = Relational.interorderGaps(orders).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 10-day gap -> week 1; 14-day gap -> week 2; lone order -> none
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("dbscanGrid: two planted clusters, border joins, density stops") {
    // eps=40 milli, minPts=5. A: ids 1-5 mutually within eps (all
    // core). id 6 sits within eps of two A-cores but has only 3
    // neighbors -> border of A. id 7 touches only the border -> noise
    // (density-reachability does NOT propagate through borders).
    // B: ids 8-12, negative coords straddling the -480 cell boundary
    // (floor-division cell ids on negatives). id 13 isolated noise.
    def e(id: Long, x: Double, y: Double) =
      (id, Array(x.toFloat, y.toFloat))
    val embs = Seq(
      e(1, 0.0, 0.0), e(2, 0.010, 0.0), e(3, 0.020, 0.0),
      e(4, 0.0, 0.010), e(5, 0.0, 0.020), e(6, 0.050, 0.0),
      e(7, 0.090, 0.0),
      e(8, -0.500, -0.500), e(9, -0.490, -0.500), e(10, -0.480, -0.500),
      e(11, -0.500, -0.490), e(12, -0.500, -0.480),
      e(13, 0.300, 0.300)).toDF("vec_id", "embedding")
    val got = operators.Clustering.dbscanGrid(embs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    (1L to 5L).foreach(i => assert(got(i) == ((1L, "core")), s"id $i"))
    assert(got(6L) == ((1L, "border")))
    assert(got(7L) == ((-1L, "noise")))
    (8L to 12L).foreach(i => assert(got(i) == ((8L, "core")), s"id $i"))
    assert(got(13L) == ((-1L, "noise")))
  }

  test("tClosenessProfile: exact EMD in the common denominator") {
    // global bands: {0:2, 1:1, 2:1}, total=4, m=3. Class (1,X) is all
    // band 0: cum(2,2,2), gcum(2,3,4), D=(4,2,0) -> 6*1e6/(2*4*2)
    val customer = Seq(
      (1L, "X", 100.0), (1L, "X", 200.0),
      (2L, "X", 1500.0), (2L, "X", 2500.0))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val got = operators.Basket.tClosenessProfile(customer).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq((1L, 375000L, true), (2L, 375000L, true)))
  }

  test("sinceLastError: error resets the accumulator, absence keeps all") {
    val events = Seq(
      (1L, 10L, "view", 1.00), (1L, 20L, "error", 2.00),
      (1L, 30L, "click", 3.00),
      (2L, 10L, "view", 5.00), (2L, 20L, "click", 7.00),
      (3L, 10L, "view", 9.00), (3L, 20L, "error", 1.00))
      .toDF("user_id", "ts_ms", "event_type", "value")
    val got = operators.Relational.sinceLastError(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((1L, 300L)))   // only the post-error click
    assert(got(2L) == ((2L, 1200L)))  // never errored: everything
    assert(got(3L) == ((0L, 0L)))     // ends in error: empty, not absent
  }

  test("hybridRrf: rank-1-in-both fuses to two full contributions") {
    // query = top-3 global words {aa, bb, cc}; doc 1 dominates both
    // rankers -> 2*(1e6 div 61); doc 2 is rank 2 twice -> 2*(1e6 div 62)
    val docs = Seq((1L, "aa bb cc aa bb cc"), (2L, "aa dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.hybridRrf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 32786L, 2L -> 32258L))
  }

  test("zipfSlope: two-moment identity over exact bit-length logs") {
    // counts 8,4,2,1 at ranks 1..4 -> points (0,3),(1,2),(1,1),(2,0)
    val docs = Seq((1L, "a a a a a a a a b b b b c c d"))
      .toDF("doc_id", "text")
    val r = operators.TextAnalysis.zipfSlope(docs).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((4L, -1500000L)))
  }

  test("closenessBfs: path-graph distances from every seed") {
    // co-purchase path 1-2-3-4-5 (each pair in 2 orders clears supp>=2)
    val li = Seq(
      (101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (103L, 2L), (103L, 3L), (104L, 2L), (104L, 3L),
      (105L, 3L), (105L, 4L), (106L, 3L), (106L, 4L),
      (107L, 4L), (107L, 5L), (108L, 4L), (108L, 5L))
      .toDF("l_orderkey", "l_partkey")
    val got = operators.Graph.closenessBfs(
        operators.Graph.copurchaseEdges(li).select("a", "b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((3L, 6L, 500000L)))   // 2@1, 3@2, 4@3
    assert(got(2L) == ((4L, 7L, 571428L)))
    assert(got(3L) == ((4L, 6L, 666666L)))
    assert(got(4L) == ((4L, 7L, 571428L)))
    assert(got(5L) == ((3L, 6L, 500000L)))
  }

  test("gapRegularity: constant cadence scores 0, known CV2 exact") {
    val events = ev(Seq(
      // user 1: gaps 2000s, 2000s -> CV2 = 0
      (1L, 1L, 0L, "view"), (1L, 2L, 2000000L, "view"),
      (1L, 3L, 4000000L, "view"),
      // user 2: gaps 1000s, 3000s -> mean 2000, var 1e6 -> 250000 ppm
      (2L, 4L, 0L, "view"), (2L, 5L, 1000000L, "view"),
      (2L, 6L, 4000000L, "view")))
    val got = operators.Relational.gapRegularity(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2L, 2000L, 0L)))
    assert(got(2L) == ((2L, 2000L, 250000L)))
  }

  test("coactivityPairs: shared windows counted, hot windows pruned") {
    val events = ev(Seq(
      (1L, 1L, 0L, "view"), (2L, 2L, 1000L, "view"), (3L, 3L, 2000L, "view"),
      (1L, 4L, 600001L, "view"), (2L, 5L, 600002L, "view"),
      (1L, 6L, 1200001L, "view"), (2L, 7L, 1200002L, "view"),
      (1L, 8L, 1800001L, "view"), (2L, 9L, 1800002L, "view")))
    val got = operators.Relational.coactivityPairs(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 4L))) // (1,3) shares only w0
    // with maxPerWindow=2 the 3-user window 0 is pruned pre-join
    val pruned = operators.Relational
      .coactivityPairs(events, maxPerWindow = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pruned.toSeq == Seq((1L, 2L, 3L)))
  }

  test("indexIncrement: touched terms only, base df semi-pruned") {
    val docs = Seq((1L, "x y"), (2L, "y z"), (3L, "y q"))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.indexIncrement(docs, baseMaxId = 2L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("q", 0L, 1L, 1L), ("y", 2L, 1L, 3L)))
  }

  test("rollingMedian7d: doubled-unit medians on full and partial frames") {
    // day d has d+1 events (counts 1..8 over days 0..7)
    val rows = (0 to 7).flatMap(d => (0 to d).map(i =>
      (1L, (d * 100 + i).toLong, d * 86400000L + i, "view")))
    val got = operators.Relational.rollingMedian7d(ev(rows)).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got(3L) == 5L)  // partial window 1,2,3,4 -> 2+3
    assert(got(6L) == 8L)  // full window 1..7 -> 2*4
    assert(got(7L) == 10L) // window 2..8 -> 2*5
  }

  test("seasonalityIndex: ppm multiples of the flat monthly share") {
    val orders = Seq((1L, "1996-01-10", 300.0), (2L, "1996-02-10", 100.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val got = operators.Relational.seasonalityIndex(orders).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 30000L, 9000000L), (2, 10000L, 3000000L)))
  }

  test("clusterDrift: separated planted clusters land mass in one half each") {
    // ids 0,1 near the origin; 2,3 near [1,0]; mid=2 splits exactly
    // along the cluster boundary -> each cluster is 100% one half
    val embs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.001f, 0.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.001f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = operators.Clustering.clusterDrift(embs, k = 2, iters = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(0L) == ((2L, 0L, 1000000L, 0L, 1000000L)))
    assert(got(1L) == ((0L, 2L, 0L, 1000000L, 1000000L)))
  }

  test("hapaxRatio: within-doc singletons over token count") {
    val docs = Seq((1L, "a b a c"), (2L, "x x")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.hapaxRatio(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 4L, 2L, 500000L), (2L, 2L, 0L, 0L)))
  }

  test("segmentBrandLift: exact ppm lift over the 4-table path") {
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val o = Seq((1L, 100L), (2L, 200L)).toDF("o_orderkey", "o_custkey")
    val c = Seq((100L, "A"), (200L, "B")).toDF("c_custkey", "c_mktsegment")
    val p = Seq((10L, "X"), (20L, "Y")).toDF("p_partkey", "p_brand")
    val got = operators.Relational.segmentBrandLift(li, o, c, p).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(("A", "X")) == ((1L, 750000L)))
    assert(got(("A", "Y")) == ((1L, 1500000L)))
    assert(got(("B", "X")) == ((1L, 1500000L)))
  }

  test("stlDecompose: constant series decomposes to zero seasonal/residual") {
    val rows = (0 until 14).flatMap(d => (0 until 3).map(i =>
      (1L, (d * 10 + i).toLong, d * 86400000L + i, "view")))
    val got = operators.Relational.stlDecompose(ev(rows)).collect()
    assert(got.length == 14)
    got.foreach { r =>
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        == ((3L, 6L, 0L, 0L)))
    }
  }

  test("stlDecompose: the unit-scale identity 4*cnt == 2*t2 + s4 + r4") {
    val got = operators.Relational
      .stlDecompose(Tables.events(spark, sf0001)).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(
      4 * r.getLong(2) == 2 * r.getLong(3) + r.getLong(4) + r.getLong(5)))
  }

  test("recommendations: neighbor parts minus own, isolated users get none") {
    // A{1,2}, B{1,2,3}, C{2,4}: only A-B share >= 2 parts
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 2L), (3L, 4L)).toDF("l_orderkey", "l_partkey")
    val o = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("o_orderkey", "o_custkey")
    val got = operators.Basket.recommendations(li, o).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq((10L, 3L, 666666L, 1L, 1L)))
  }

  test("jaccardLinkPred: union-normalized scores on a known wedge") {
    // path a-b-c plus a-d: (a,c) share {b}: deg a=2, c=1, union=2
    // -> 500000; (b,d) share {a}: deg b=2, d=1 -> 500000; (c,d) share
    // no neighbor -> absent; adjacent pairs excluded by the anti-join
    val e0 = Seq(("a", "b"), ("b", "c"), ("a", "d")).toDF("a", "b")
    val got = operators.Graph.jaccardLinkPred(e0).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      ("a", "c") -> ((1L, 500000L)), ("b", "d") -> ((1L, 500000L))))
  }

  test("bloom parquet layout: filter present in footer, predicate pushed") {
    val dir = sources.BloomParquet.stage(spark, sf0001)
    // (a) footer carries a bloom filter for l_partkey
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.getAbsolutePath), new Configuration()))
    try {
      val chunk = rdr.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "l_partkey").get
      assert(chunk.getBloomFilterOffset > 0,
        "no bloom filter written for l_partkey")
    } finally rdr.close()
    // (b) the equality predicate reaches the scan
    val q = sources.BloomParquet.pointLookup(spark, sf0001, key = 1L)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_partkey"),
      s"predicate not pushed:\n$scan")
    // (c) result equals the direct filter on the canonical table
    val direct = Tables.lineitem(spark, sf0001)
      .where(col("l_partkey") === 1L)
      .agg(count(lit(1)), sum(round(col("l_quantity") * 100).cast("long")))
      .collect().head
    val got = q.collect().head
    assert(got.getLong(1) == direct.getLong(0))
    assert(got.getLong(2) == direct.getLong(1))
  }
}
