package graft

import org.apache.spark.sql.functions._

import graft.functions.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("deletion_neighborhood: same SET as the declarative SQL formulation") {
    val names = Seq("Customer#001", "abc", "aa", "a", "").toDF("c_name")
    val del1 =
      "CASE WHEN length(c_name) >= 1 THEN " +
        "transform(sequence(1, length(c_name)), " +
        "i -> concat(substr(c_name, 1, i - 1), substr(c_name, i + 1, length(c_name)))) " +
        "ELSE cast(array() AS array<string>) END"
    val del2 =
      "CASE WHEN length(c_name) >= 2 THEN " +
        "flatten(transform(sequence(1, length(c_name) - 1), i -> " +
        "  transform(sequence(i + 1, length(c_name)), j -> " +
        "    concat(substr(c_name, 1, i - 1), substr(c_name, i + 1, j - i - 1), " +
        "           substr(c_name, j + 1, length(c_name)))))) " +
        "ELSE cast(array() AS array<string>) END"
    for (k <- Seq(1, 2)) {
      val sql =
        if (k == 1) s"array_distinct(concat(array(c_name), $del1))"
        else s"array_distinct(concat(array(c_name), $del1, $del2))"
      val got = names.select(col("c_name"),
          deletion_neighborhood(col("c_name"), k).as("fast"),
          expr(sql).as("slow"))
        .as[(String, Seq[String], Seq[String])].collect()
      got.foreach { case (n, f, s) =>
        assert(f.toSet == s.toSet, s"k=$k name='$n'")
        assert(f.length == f.distinct.length, s"k=$k name='$n' not distinct")
      }
    }
    // spot-check content: "aa" at k=2 reaches "", "a", "aa"
    val aa = names.where(col("c_name") === "aa")
      .select(deletion_neighborhood(col("c_name"), 2)).as[Seq[String]].collect().head
    assert(aa.toSet == Set("aa", "a", ""))
  }

  test("dot_d equals the declarative aggregate(zip_with) fold bit-for-bit") {
    val df = Tables.embeddings(spark, sf0001).limit(50)
      .select(col("embedding").cast("array<double>").as("e"))
    val got = df.select(
      dot_d(col("e"), col("e")).as("fast"),
      aggregate(zip_with(col("e"), col("e"), (x, y) => x * y),
        lit(0.0d), (s, v) => s + v).as("slow"))
      .as[(Double, Double)].collect()
    got.foreach { case (f, s) => assert(f == s) } // bitwise-identical fold
  }

  test("minhash_sig: deterministic, in-range, similarity-preserving") {
    val hs = Seq((1L, Seq(10L, 20L, 30L, 40L)), (2L, Seq(10L, 20L, 30L, 999L)))
      .toDF("id", "hs")
    val sigs = hs.select(col("id"), minhash_sig(col("hs"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length == 64)
    assert(sigs(1L).forall(v => v >= 0 && v < 2147483647L))
    // jaccard(={10,20,30,40},{10,20,30,999}) = 3/5 -> E[agree] = 38.4 of 64
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree > 24 && agree < 52) // ±3.5σ around the expectation
    // rerun yields identical signature (fixed seed)
    val again = hs.select(minhash_sig(col("hs"), 64).as("sig"))
      .as[Seq[Long]].collect().head
    assert(again == sigs(1L))
  }

  test("simhash64: identical inputs collide, sign rule holds") {
    val df = Seq(
      (1L, Seq(0x0L)),               // all bits 0 -> every count -1 -> hash 0
      (2L, Seq(-1L)),                // all bits 1 -> every count +1 -> hash -1
      (3L, Seq(5L, 5L, 5L)))         // majority = bits of 5
      .toDF("id", "hs")
    val got = df.select(col("id"), simhash64(col("hs")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 0L && got(2L) == -1L && got(3L) == 5L)
  }

  test("SQL surface: registered graft_* functions work in spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("vv")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_rolling_hash('a') AS h,
        |       size(graft_minhash(array(1L, 2L), 8)) AS k,
        |       graft_simhash(array(-1L)) AS s FROM vv""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 0xaf63dc4c8601ec8cL)
    assert(r.getInt(2) == 8)
    assert(r.getLong(3) == -1L)
  }

  test("kmv_distinct: exact below k, merge-consistent across partitions") {
    // the KMV route is Spark's theta sketch (DataSketches' generalized
    // k-minimum-values), k = 2^lgNomEntries
    def thetaDistinct(c: org.apache.spark.sql.Column, lg: Int) =
      theta_sketch_estimate(theta_sketch_agg(c, lg))
    val words = (1 to 500).map(i => s"w${i % 137}")  // 137 distinct
    val exact = words.toDF("w").repartition(8)
      .agg(thetaDistinct(col("w"), 10)).as[Long].collect().head
    assert(exact == 137L)
    // above k: estimator within 3/sqrt(k) relative error
    val big = (1 to 20000).map(i => s"x$i")
    val est = big.toDF("w").repartition(8)
      .agg(thetaDistinct(col("w"), 8)).as[Long].collect().head
    assert(math.abs(est - 20000.0) / 20000.0 < 3.0 / math.sqrt(256))
  }

  test("Gate.exactWhile passes an in-window sketch and names a saturated one") {
    def distinct(n: Int) = (1 to n).map(i => s"x$i").toDF("w").repartition(4)
      .agg(theta_sketch_estimate(theta_sketch_agg(col("w"), 10)).as("n"))
    val guard = (df: org.apache.spark.sql.DataFrame) =>
      graft.gates.Gate.exactWhile(df, "theta lg=10", col("n") < 1024)
    assert(guard(distinct(1000)).as[Long].collect().toSeq == Seq(1000L))
    val e = intercept[Exception](guard(distinct(2000)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("theta lg=10 saturated")), e.toString)
  }

  test("theta_jaccard: exact set ops below k, duplicates collapse") {
    val rows = Seq(("a", true), ("b", true), ("c", true), ("b", true),
      ("b", false), ("c", false), ("d", false), ("d", false))
      .toDF("word", "side").repartition(4)
    val r = rows.agg(theta_jaccard(col("word"), col("side"), 10).as("j"))
      .select("j.n_a", "j.n_b", "j.n_inter", "j.jaccard_ppm")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((3L, 3L, 2L, 500000L)))
    // estimator path (k=16 < 400 per side) stays in [0, 1e6]
    val many = (0 until 400).flatMap(i => Seq((s"v$i", true), (s"v${i + 200}", false)))
      .toDF("word", "side").repartition(4)
    val e = many.agg(theta_jaccard(col("word"), col("side"), 4).as("j"))
      .select("j.jaccard_ppm").collect().head.getLong(0)
    assert(e >= 0L && e <= 1000000L)
  }

  test("SketchDistinctRewrite: plan swaps to theta, exact below k, estimates above") {
    val d = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val exact = d.agg(countDistinct(col("v")).as("n"))
    // scoped rewrite, k above cardinality: plan shows the sketch, value exact
    val sk = graft.plans.SketchDistinctRewrite.rewrite(exact, lgNomEntries = 10)
    val plan = sk.queryExecution.executedPlan.toString
    assert(plan.contains("theta_sketch_agg"),
      s"rewritten plan must aggregate through the sketch:\n$plan")
    assert(!plan.contains("Expand"),
      s"the two-phase exact-distinct Expand must be gone:\n$plan")
    assert(sk.collect()(0).getLong(0) == 100L)
    // k below cardinality: the estimator runs (any value; just not the
    // exact-path guarantee) — proves the sketch, not a hidden exact path
    val est = graft.plans.SketchDistinctRewrite.rewrite(exact, lgNomEntries = 4)
      .collect()(0).getLong(0)
    assert(est > 0L)
    // a type theta does not take stays exact
    val dates = d.select(expr("date_add(DATE'2020-01-01', CAST(id AS INT))").as("v"))
      .agg(countDistinct(col("v")).as("n"))
    val kept = graft.plans.SketchDistinctRewrite.rewrite(dates)
    assert(!kept.queryExecution.executedPlan.toString.contains("theta_sketch_agg"))
    assert(kept.collect()(0).getLong(0) == 100L)
  }

  test("topk_sketch: exact counts below capacity, bounded above it") {
    import graft.functions.TopKFreqSketch.topk_weighted
    val words = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val got = words.toDF("w").repartition(4)
      .agg(topk_weighted(col("w"), lit(1L), 16).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.word"), col("e.cnt"))
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 5L), ("b", 3L), ("c", 1L)))
    // above capacity: heavy hitter survives with count >= truth
    val skewed = Seq.fill(100)("hot") ++ (1 to 50).map(i => s"cold$i")
    val top = skewed.toDF("w").repartition(4)
      .agg(topk_weighted(col("w"), lit(1L), 8).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.word"), col("e.cnt"))
      .as[(String, Long)].collect()
    assert(top.head._1 == "hot" && top.head._2 >= 100L)
  }

  test("topk_sketch Summary survives in-place mutation of the input buffer") {
    // aggregate inputs may alias a reused UnsafeRow buffer: the bytes an
    // admitted UTF8String points at can change after the row advances.
    // The summary must retain cloned keys everywhere (map AND eviction
    // index) or evictions desync and the state grows past m.
    import org.apache.spark.unsafe.types.UTF8String
    val buf = new graft.functions.TopKFreqSketch.Summary
    // offset slice of a larger buffer — the UnsafeRow shape (a
    // whole-array UTF8String would make clone() a no-op alias)
    val arr = "Xaa".getBytes("UTF-8")
    val aliased = UTF8String.fromBytes(arr, 1, 2)
    buf.admit(aliased, 1L, 2)     // insert path (clones)
    buf.admit(aliased, 1L, 2)     // increment path (must also clone)
    arr(1) = 'z'                  // the reused buffer moves on
    buf.admit(UTF8String.fromString("bb"), 3L, 2) // fill to capacity
    buf.admit(UTF8String.fromString("cc"), 1L, 2) // evicts min = ("aa", 2)
    assert(buf.counts.size == 2)  // desynced index would leave 3 entries
    assert(!buf.counts.contains(UTF8String.fromString("aa")))
    assert(buf.counts(UTF8String.fromString("cc")) == 3L) // inherited 2+1
  }

  test("kll_quantiles: exact below capacity, bounded rank error above") {
    import graft.functions.KllQuantiles.kll_quantiles
    // below capacity: bit-identical to the exact percentile aggregate
    val vals = (1 to 500).map(i => ((i * 7919) % 1000).toLong)
    val df = vals.toDF("v").repartition(8)
    val got = df.agg(kll_quantiles(col("v"), 1024, Seq(0.25d, 0.5d, 0.75d)).as("qs"),
        expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("ex"))
      .select(col("qs")(0), col("qs")(1), col("qs")(2),
        col("ex")(0), col("ex")(1), col("ex")(2))
      .as[(Double, Double, Double, Double, Double, Double)].head()
    assert(got._1 == got._4 && got._2 == got._5 && got._3 == got._6)
    // above capacity (k=128, n=20000 uniform): estimates stay within a
    // loose rank tolerance of truth — the sketch degrades, not breaks
    val big = (1 to 20000).map(i => ((i.toLong * 48271) % 20000))
    val est = big.toDF("v").repartition(8)
      .agg(kll_quantiles(col("v"), 128, Seq(0.5d)).as("qs"))
      .select(col("qs")(0)).as[Double].head()
    assert(math.abs(est - 10000.0) < 2500.0) // ±12.5% rank error at k=128
  }

  test("rolling_hash64: FNV-1a reference vector + distinctness") {
    val got = Seq("a", "b", "").toDF("s")
      .select(rolling_hash64(col("s"))).as[Long].collect()
    assert(got(0) == 0xaf63dc4c8601ec8cL) // published FNV-1a("a")
    assert(got(0) != got(1))
    assert(got(2) == 0xcbf29ce484222325L) // offset basis for empty input
  }

  test("nfc_normalize composes decomposed sequences, identity on NFC text") {
    // "e" + U+0301 combining acute (2 chars) -> U+00E9 (1 char);
    // explicit escapes so no editor normalization can corrupt the test
    val decomposed = "e\u0301"
    val composed = "\u00e9"
    val got = Seq(decomposed, composed, "plain").toDF("s")
      .select(nfc_normalize(col("s")), length(col("s")))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got(0)._1 == composed && got(0)._2 == 2) // composed, was 2 chars
    assert(got(1)._1 == composed && got(1)._2 == 1) // already NFC: identity
    assert(got(2)._1 == "plain")
    // SQL surface
    GraftSql.registerViews(spark, sf0001)
    val viaSql = spark.sql("SELECT length(graft_nfc('e\u0301')) AS n")
      .collect().head.getInt(0)
    assert(viaSql == 1)
  }

  test("weighted Space-Saving: exact totals below capacity, upper bounds above") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(("a", 10L), ("b", 1L), ("a", 5L), ("c", 2L), ("b", 3L))
      .toDF("k", "w")
    val exact = rows.agg(graft.functions.TopKFreqSketch
        .topk_weighted(col("k"), col("w"), 16).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.word"), col("e.cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(exact == Seq(("a", 15L), ("b", 4L), ("c", 2L)))
    // m = 2 forces eviction: every reported total is >= the true total
    // and the heaviest key is still on top with its weight preserved
    val approx = rows.agg(graft.functions.TopKFreqSketch
        .topk_weighted(col("k"), col("w"), 2).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.word"), col("e.cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val truth = Map("a" -> 15L, "b" -> 4L, "c" -> 2L)
    assert(approx.length == 2)
    assert(approx.forall { case (k, c) => c >= truth(k) })
    assert(approx.head._1 == "a" && approx.head._2 >= 15L)
    // SQL surface
    GraftSql.registerViews(spark, sf0001)
    val viaSql2 = spark.sql(
      """SELECT graft_topk_weighted(lang, CAST(n_chars AS BIGINT), 64)[0].word
        |FROM documents""".stripMargin).collect().head.getString(0)
    val want = spark.sql(
      """SELECT lang FROM (SELECT lang, sum(n_chars) AS s FROM documents
        |GROUP BY 1 ORDER BY s DESC, lang LIMIT 1)""".stripMargin)
      .collect().head.getString(0)
    assert(viaSql2 == want)
  }
}
