package graft

/** The SQL surface must express the flagship pipeline and agree with
  * the DataFrame formulation.
  */
class GraftSqlSpec extends SparkSpec {

  test("registerViews: functions once per session, views follow the last dir") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fn = FunctionIdentifier("graft_topk_sketch")
    val s1 = spark.newSession()
    GraftSql.registerViews(s1, sf0001)
    val info = s1.sessionState.functionRegistry.lookupFunction(fn)
    assert(info.isDefined)
    // a registration builds a fresh ExpressionInfo, so the same
    // instance means the second call re-registered nothing
    val sf001 = sf0001.replace("sf0.001", "sf0.01")
    GraftSql.registerViews(s1, sf001)
    assert(s1.sessionState.functionRegistry.lookupFunction(fn).get eq info.get)
    // ...while the views moved to the last dir
    val n001 = Tables(s1, sf001, "orders").count()
    assert(n001 != Tables(s1, sf0001, "orders").count())
    assert(s1.table("orders").count() == n001)
    // a new session shares no temp functions, so it registers its own
    val s2 = spark.newSession()
    GraftSql.registerViews(s2, sf0001)
    assert(s2.sessionState.functionRegistry.lookupFunction(fn).isDefined)
    assert(s2.sql("SELECT graft_topk_sketch(lang, 16) FROM documents")
      .collect().length == 1)
  }

  test("flagship word count via spark.sql equals the DataFrame result") {
    GraftSql.registerViews(spark, sf0001)
    val sql = spark.sql(
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT lower(regexp_extract(tok, '^[A-Za-z\\[\\\\\\]^_`\']*', 0)) AS word
        |  FROM (SELECT explode(split(text, '\\s+')) AS tok FROM documents)
        |) WHERE length(word) > 0
        |GROUP BY word ORDER BY word""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val df = operators.WordCount.wordCount(Tables.documents(spark, sf0001))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sql == df)
  }

  test("TopK.perKey composes with spark.sql sources (the SQL surface)") {
    GraftSql.registerViews(spark, sf0001)
    val counts = spark.sql(
      "SELECT lang, doc_id, length(text) AS n FROM documents")
    val got = plans.TopK.perKey(counts, Seq("lang"),
      Seq(("n", true), ("doc_id", false)), 2)
    val want = spark.sql(
      """SELECT * FROM (
        |  SELECT lang, doc_id, length(text) AS n,
        |    row_number() OVER (PARTITION BY lang ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 2""".stripMargin)
    assert(got.orderBy("lang", "rn").collect().map(_.toString).toSeq ==
      want.orderBy("lang", "rn").collect().map(_.toString).toSeq)
  }

  test("sketch aggregates are first-class SQL functions") {
    GraftSql.registerViews(spark, sf0001)
    val r = spark.sql(
      """SELECT graft_topk_sketch(lang, 16)[0].word AS top_lang
        |FROM documents""".stripMargin).collect().head
    val topLang = spark.sql(
      """SELECT lang FROM (SELECT lang, count(*) AS c FROM documents
        |GROUP BY lang ORDER BY c DESC, lang LIMIT 1)""".stripMargin)
      .collect().head.getString(0)
    assert(r.getString(0) == topLang)
  }

  test("kll and bloom aggregates are first-class SQL functions") {
    GraftSql.registerViews(spark, sf0001)
    // exact below capacity: quartiles of lengths 1..n match percentile
    val r = spark.sql(
      """SELECT graft_kll_quantiles(length(text), 32768, array(0.25, 0.5, 0.75)) AS qs
        |FROM documents""".stripMargin).collect().head
    val want = spark.sql(
      """SELECT percentile(length(text), array(0.25, 0.5, 0.75)) FROM documents""")
      .collect().head.getSeq[Double](0)
    assert(r.getSeq[Double](0) == want)
    // bloom: SQL-built filter, probed via the Column helper — every
    // present key must hit (no false negatives by construction)
    val bf = spark.sql(
      "SELECT graft_bloom_agg(doc_id, 65536, 5) AS bf FROM documents")
    import org.apache.spark.sql.functions.col
    val missed = Tables.documents(spark, sf0001).crossJoin(
        org.apache.spark.sql.functions.broadcast(bf))
      .where(!graft.functions.BloomFilterAgg.mightContain(
        col("bf"), col("doc_id"), 65536, 5))
      .count()
    assert(missed == 0L)
  }

  test("graft functions + views compose in SQL (simhash near-dup probe)") {
    GraftSql.registerViews(spark, sf0001)
    val n = spark.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT graft_simhash(transform(split(text, '\\s+'), w -> xxhash64(w))) AS sh
        |  FROM documents
        |)""".stripMargin).collect().head.getLong(0)
    assert(n > 0)
  }

  test("named-parameter SQL binds values without string splicing") {
    GraftSql.registerViews(spark, sf0001)
    val n = spark.sql(
      "SELECT count(*) AS n FROM documents WHERE n_chars > :minChars",
      Map("minChars" -> 100)).collect().head.getLong(0)
    val want = spark.sql(
      "SELECT count(*) AS n FROM documents WHERE n_chars > 100")
      .collect().head.getLong(0)
    assert(n == want && n > 0)
  }

  test("recursive CTE (UNION ALL) runs on the Spark SQL surface") {
    val got = spark.sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 10)
        |SELECT sum(n) AS s FROM t""".stripMargin)
      .collect().head.getLong(0)
    assert(got == 55L)
  }

  test("deletion neighborhood is a first-class SQL function") {
    GraftSql.registerViews(spark, sf0001)
    val got = spark.sql(
      "SELECT graft_deletion_neighborhood('ab', 2) AS v")
      .collect().head.getSeq[String](0).toSet
    assert(got == Set("ab", "a", "b", ""))
  }

  test("correlated LATERAL top-k decorrelates and matches the window form") {
    val lat = SparkEntry.queries("sql_lateral_topk")(spark, sf0001)
    // ≤ 3 orders per customer, and the same row count as the explicit
    // window formulation (both drop order-less customers)
    val perCust = lat.groupBy("c_custkey").count()
    assert(perCust.agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0) <= 3L)
    val win = graft.operators.Relational
      .topOrdersPerCustomer(spark, sf0001, 3)
    assert(lat.count() == win.count() && lat.count() > 0)
    // the decorrelated plan must not contain a per-row subquery: Spark
    // rewrites the correlated ORDER BY+LIMIT into a ranked window join
    val plan = lat.queryExecution.optimizedPlan.toString
    assert(!plan.contains("ScalarSubquery"))
  }

  test("NOT IN against a NULL-bearing set is never true; NOT EXISTS ignores the NULL") {
    val r = SparkEntry.queries("sql_not_in_nulls")(spark, sf0001).collect().head
    val (nIn, nNotIn, nNotExists) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nNotIn == 0L)          // the 3VL trap: x <> NULL is never TRUE
    assert(nNotExists > 0L)       // customers of the NULLed-out nation
    val total = Tables(spark, sf0001, "customer").count()
    assert(nIn + nNotExists == total) // IN + NOT EXISTS partition the table
  }

  test("INTERSECT/EXCEPT ALL keep multiplicity; distinct forms collapse it") {
    val r = SparkEntry.queries("sql_set_ops")(spark, sf0001).collect().head
    val (ia, ea, i, e) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ia >= i && ea >= e)    // ALL forms dominate the distinct forms
    assert(ia > i)                // multiplicity really present in testdata
    // |a| = |a INTERSECT ALL b| + |a EXCEPT ALL b| (multiset identity)
    val a = Tables(spark, sf0001, "lineitem").where("l_quantity <= 25").count()
    assert(ia + ea == a)
  }

  test("GROUP BY ALL infers the grouping keys from the select list") {
    val got = SparkEntry.queries("sql_group_by_all")(spark, sf0001)
    val want = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)
    assert(got.collect().map(_.toString).toSeq ==
      want.collect().map(_.toString).toSeq)
  }
}
