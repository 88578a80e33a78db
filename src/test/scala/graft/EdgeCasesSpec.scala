package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators._

/** Empty and degenerate inputs through every operator family — these
  * hit different code paths (zero partitions with rows, empty arrays,
  * all-filtered groups) than the happy path.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("word count family on empty input") {
    assert(WordCount.wordCount(emptyDocs).count() == 0)
    assert(WordCount.wordCountRdd(spark, emptyDocs).count() == 0)
    assert(WordCount.distinctWords(emptyDocs).collect().head.getLong(0) == 0L)
    assert(WordCount.topK(emptyDocs, 5).count() == 0)
  }

  private lazy val emptyEvents = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts_ms", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))

  test("round-2 relational/text operators on empty input") {
    assert(Relational.intervalJoinViews(emptyEvents).count() == 0)
    assert(Relational.valueQuantiles(emptyEvents).count() == 0)
    assert(Relational.dailyMomentum(emptyEvents).count() == 0)
    assert(Relational.eventTypeRanks(emptyEvents).count() == 0)
    assert(Relational.slidingWindows(emptyEvents).count() == 0)
    assert(Relational.clicksVsViewsByDay(emptyEvents).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(emptyDocs).count() == 0)
    assert(TextAnalysis.piiScrub(emptyDocs).count() == 0)
    assert(TextAnalysis.hashSample(emptyDocs, 10).count() == 0)
    assert(TextAnalysis.editDistanceToNext(emptyDocs).count() == 0)
    assert(Dedup.decontaminateStrict(emptyDocs, 50, 8).count() == 0)
  }

  test("dedup family on empty and all-filtered input") {
    assert(Dedup.jaccardPairs(emptyDocs, 3, 4, 5).count() == 0)
    assert(Dedup.minhashPairs(emptyDocs, 3, 8, 2, 4, 5).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    // all tokens cleaned away -> empty word arrays everywhere
    val digits = Seq((1L, "123 456"), (2L, "789")).toDF("doc_id", "text")
    assert(WordCount.wordCount(digits).count() == 0)
    assert(Dedup.shingles(digits, 3).count() == 0)
    assert(Dedup.simhash(digits).count() == 0) // size(ws) > 0 filter
  }

  private lazy val withNull = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row(1L, "a b"), Row(2L, null))),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("null text rows are dropped, not fatal") {
    val got = WordCount.wordCount(withNull).collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b"))
    assert(WordCount.wordCountRdd(spark, withNull).count() == 2)
    assert(TextAnalysis.docStats(withNull).count() >= 1)
  }

  test("RDD word count flushing at every distinct word: empty and null input") {
    assert(WordCount.wordCountRdd(spark, emptyDocs, "text", 1).count() == 0)
    val got = WordCount.wordCountRdd(spark, withNull, "text", 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("a" -> 1L, "b" -> 1L))
  }

  test("similarity on empty and single-row input") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(Similarity.knnBruteForce(empty, 5, 3).count() == 0)
    assert(Similarity.embeddingNearDup(empty, 0.5).count() == 0)
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(0L, Seq(1.0f, 0.0f), 0))), schema)
    assert(Similarity.knnBruteForce(one, 5, 3).count() == 0) // no other vectors
  }

  test("round-3 operators on empty input") {
    assert(Relational.eventsNtile(emptyEvents).count() == 0)
    assert(Relational.userFirstLast(emptyEvents).count() == 0)
    assert(Relational.eventsPercentRank(emptyEvents).count() == 0)
    assert(Relational.peakWindowSpend(emptyEvents).count() == 0)
    assert(Relational.eventTypeMelt(emptyEvents).count() == 0)
    assert(Relational.eventsValueStats(emptyEvents).count() == 0)
    assert(Relational.typedUserSpend(emptyEvents).count() == 0)
    assert(Relational.snapshotUpsert(emptyEvents).count() == 0)
    assert(Relational.weeklyFromDaily(emptyEvents).count() == 0)
    assert(TextAnalysis.boilerplateScrub(emptyDocs).count() == 0)
    assert(TextAnalysis.freqOfFreq(emptyDocs).count() == 0)
    assert(Graph.triangleCount(Graph.bigramEdges(emptyDocs))
      .collect().head.getLong(0) == 0L)
  }

  test("round-3 TPC-H shapes on empty lineitem-like input") {
    // snapshotUpsert with only one side populated: update-only user
    val oneSide = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 7L, 2_000_000_000_000L, "view", 1.0, "{}"))),
      emptyEvents.schema)
    val up = Relational.snapshotUpsert(oneSide).collect()
    assert(up.length == 1 && up.head.getLong(0) == 7L)
  }

  test("round-5 operators on empty and degenerate input") {
    assert(Dedup.crossDocSpans(emptyDocs, 8).count() == 0)
    assert(Dedup.blockedFuzzyPairs(
      emptyDocs.select($"doc_id".as("c_custkey"), $"text".as("c_name"))
        .withColumn("c_nationkey", org.apache.spark.sql.functions.lit(0)),
      maxDist = 1).count() == 0)
    assert(Relational.scd2(emptyEvents).count() == 0)
    assert(Relational.cohortMatrix(emptyEvents).count() == 0)
    assert(Relational.valueMad(emptyEvents).count() == 0)
    assert(Relational.gapFillDaily(emptyEvents).count() == 0)
    assert(Relational.cogroupUserActivity(emptyEvents,
      emptyEvents.select($"event_id".as("o_orderkey"), $"user_id".as("o_custkey"),
        $"value".as("o_totalprice"))).count() == 0)
    assert(TextAnalysis.bigramLm(emptyDocs, 1).count() == 0)
    assert(TextAnalysis.vocabCoverage(emptyDocs, 10).count() == 0)
    assert(TextAnalysis.sparseDotPairs(emptyDocs, 100, 1).count() == 0)
    assert(TextAnalysis.phraseSearch(emptyDocs).count() == 0)
    // single-token docs: no bigrams anywhere -> phrase search is empty
    val tiny = Seq((1L, "solo"), (2L, "word")).toDF("doc_id", "text")
    assert(TextAnalysis.phraseSearch(tiny).count() == 0)
    // one event: scd2 emits one open interval
    val one = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 7L, 1000L, "view", 1.0, "{}")), emptyEvents.schema)
    val s = Relational.scd2(one).collect()
    assert(s.length == 1 && s.head.getLong(4) == 253402300799999L)
  }

  test("round-6 operators on empty and degenerate input") {
    import org.apache.spark.sql.functions.lit
    assert(TextAnalysis.phraseSearchN(emptyDocs, 3).count() == 0)
    // two-token docs: no trigram anywhere -> 3-word phrase search is empty
    val tiny = Seq((1L, "two words"), (2L, "more text")).toDF("doc_id", "text")
    assert(TextAnalysis.phraseSearchN(tiny, 3).count() == 0)
    assert(TextAnalysis.mixtureSampleSalted(
      emptyDocs.withColumn("source", lit("s")), budget = 10, salts = 4).count() == 0)
    assert(TextAnalysis.shardAssignRefined(emptyDocs, 4).count() == 0)
    assert(Dedup.blockedFuzzyPairs(
      emptyDocs.select($"doc_id".as("c_custkey"), $"text".as("c_name"))
        .withColumn("c_nationkey", lit(0)), maxDist = 2).count() == 0)
    // 1-char names: the 2-deletion CASE guards must not emit descending
    // sequences; "a" and "b" share the "" variant -> all 3 pairs found
    val shorties = Seq((1L, "a", 0), (2L, "b", 0), (3L, "a", 0))
      .toDF("c_custkey", "c_name", "c_nationkey")
    assert(Dedup.blockedFuzzyPairs(shorties, maxDist = 2).count() == 3)
  }

  test("round-6 late operators on empty input") {
    import org.apache.spark.sql.functions.lit
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.annSq8(emptyEmb, 5, 3).count() == 0)
    assert(Similarity.randomProjection(emptyEmb).count() == 0)
    val emptyLangDocs = emptyDocs.withColumn("lang", lit("en"))
    assert(TextAnalysis.dsirSelect(emptyLangDocs).count() == 0)
    assert(TextAnalysis.perplexityBuckets(emptyLangDocs).count() == 0)
    val graph = graft.operators.Graph
    assert(graph.bfsDistances(graph.bigramEdges(emptyDocs)).count() == 0)
    // single doc with one word: no bigram edges -> BFS finds nothing
    assert(graph.bfsDistances(graph.bigramEdges(
      Seq((1L, "lonely")).toDF("doc_id", "text"))).count() == 0)
  }

  test("round-6 third-sweep operators on empty input") {
    import org.apache.spark.sql.functions.lit
    val emptyEvents = Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "user_id", "ts_ms", "event_type", "value", "props")
    assert(Relational.asofNearestView(emptyEvents).count() == 0)
    assert(Relational.rollingUserWindow(emptyEvents).count() == 0)
    assert(Relational.cumulativeUsers(emptyEvents).count() == 0)
    assert(Relational.dailyTrend(emptyEvents).count() == 0)
    assert(Relational.snapshotDiff(emptyEvents).count() == 0)
    assert(TextAnalysis.skipgramCounts(emptyDocs).count() == 0)
    assert(TextAnalysis.temperatureSample(
      emptyDocs.withColumn("source", lit("s")), budget = 10).count() == 0)
    val noEdges = graft.operators.Graph.bigramEdges(emptyDocs)
    assert(graft.operators.Graph.wordHits(noEdges).count() == 0)
    assert(graft.operators.Graph.wordKCore(noEdges).count() == 0)
    assert(graft.operators.Multimodal.realPhashNearDup(spark,
      graft.operators.Multimodal.realMediaOfKind(emptyDocs, 0)).count() == 0)
  }

  test("custom topk plan on empty input") {
    val empty = emptyDocs.select($"doc_id".as("g"), $"text".as("w"))
      .withColumn("cnt", org.apache.spark.sql.functions.lit(1L))
    assert(graft.plans.TopK.perKey(empty, Seq("g"), Seq(("cnt", true)), 3).count() == 0)
  }
}
