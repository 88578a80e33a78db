package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.DedupStage

/** The round-13 dedup staging contract: every staged frame must equal
  * the unstaged derivation it replaces (same values — the gates' oracle
  * equality rides on this), and repeat calls must return the SAME
  * cached frame (the bench-budget point of staging).
  */
class DedupStageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("staged jaccard pairs == unstaged derivation, and cached") {
    val docs = Tables.documents(spark, dir)
    val staged = DedupStage.pairs(spark, dir)
    assert(rows(staged) ==
      rows(Dedup.jaccardPairs(docs, n = 3, num = 4, den = 5)))
    // same object on repeat: the derivation ran once
    assert(DedupStage.pairs(spark, dir) eq staged)
  }

  test("staged minhash pairs == unstaged, == brute pairs (verified LSH)") {
    val docs = Tables.documents(spark, dir)
    val staged = DedupStage.minhashPairs(spark, dir)
    assert(rows(staged) == rows(Dedup.minhashPairs(docs, n = 3, b = 32,
      r = 4, num = 4, den = 5)))
    // the verify step makes LSH converge to the brute-force pair set
    assert(rows(staged.select("id_a", "id_b")) ==
      rows(DedupStage.pairs(spark, dir).select("id_a", "id_b")))
    assert(DedupStage.minhashPairs(spark, dir) eq staged)
  }

  test("staged cc labels == componentsAdaptive over unstaged pairs") {
    val docs = Tables.documents(spark, dir)
    val staged = DedupStage.ccLabels(spark, dir)
    assert(rows(staged) == rows(Dedup.componentsAdaptive(
      Dedup.jaccardPairs(docs, n = 3, num = 4, den = 5))))
    assert(DedupStage.ccLabels(spark, dir) eq staged)
  }

  test("staged islands == crossDocSpans, and cutSpansFrom == cutSpans") {
    val docs = Tables.documents(spark, dir)
    val staged = DedupStage.islands(spark, dir)
    val live = Dedup.crossDocSpans(docs, w = 8)
    assert(rows(staged) == rows(live))
    assert(rows(Dedup.cutSpans(docs, staged)) ==
      rows(Dedup.cutSpans(docs, live)))
  }

  test("From-variants equal their self-deriving forms") {
    // each operator over the staged frame equals it over the live
    // derivation the staged frame replaces
    val docs = Tables.documents(spark, dir)
    val pairs = DedupStage.pairs(spark, dir)
    val cc = DedupStage.ccLabels(spark, dir)
    val livePairs = Dedup.jaccardPairsUnsorted(docs, 3, 4, 5)
    val liveCC = Dedup.componentsAdaptive(livePairs)
    assert(rows(Dedup.keepList(docs, pairs)) ==
      rows(Dedup.keepList(docs, livePairs)))
    assert(rows(Dedup.keepListCC(docs, cc)) ==
      rows(Dedup.keepListCC(docs, liveCC)))
    assert(rows(Dedup.keepBestQuality(docs, cc)) ==
      rows(Dedup.keepBestQuality(docs, liveCC)))
    assert(rows(Dedup.splitLeakproof(docs, cc)) ==
      rows(Dedup.splitLeakproof(docs, liveCC)))
    assert(rows(Dedup.clusterSizeHistogram(docs, cc)) ==
      rows(Dedup.clusterSizeHistogram(docs,
        Dedup.componentsAdaptive(livePairs, propRounds = 1))))
    assert(rows(Dedup.corpusFilterReport(docs, pairs)) ==
      rows(Dedup.corpusFilterReport(docs,
        Dedup.jaccardPairsUnsorted(docs.where(col("doc_id") > 50), 3, 4, 5))))
  }

  test("capstones over staged inputs equal their self-deriving forms") {
    val docs = Tables.documents(spark, dir)
    assert(rows(graft.operators.TextAnalysis.corpusBuild(docs,
        cc = DedupStage.ccLabels(spark, dir))) ==
      rows(graft.operators.TextAnalysis.corpusBuild(docs,
        cc = Dedup.componentsAdaptive(
          Dedup.jaccardPairsUnsorted(docs, 3, 4, 5)))))
    assert(rows(graft.operators.TextAnalysis.corpusBuildV2(docs,
        islands = Some(DedupStage.islands(spark, dir)))) ==
      rows(graft.operators.TextAnalysis.corpusBuildV2(docs)))
  }

  test("staged fuzzy pairs/clusters equal their unstaged derivations") {
    val cust = Tables.customer(spark, dir)
    val staged = DedupStage.fuzzyPairs(spark, dir)
    assert(rows(staged) == rows(Dedup.blockedFuzzyPairs(cust, maxDist = 1)))
    assert(DedupStage.fuzzyPairs(spark, dir) eq staged)
    val cl = DedupStage.fuzzyClusters(spark, dir)
    assert(rows(Dedup.goldenRecord(cust, cl)) ==
      rows(Dedup.goldenRecord(cust,
        Dedup.componentsStar(Dedup.blockedFuzzyPairs(cust, maxDist = 1))
          .select(col("doc_id").as("custkey"), col("comp")))))
  }

  test("corpusFilterReportFrom accepts the FULL-corpus pair set: " +
    "pair-locality makes subset pairs == filtered full pairs") {
    val docs = Tables.documents(spark, dir)
    val full = Dedup.jaccardPairs(docs, n = 3, num = 4, den = 5)
    val subset = Dedup.jaccardPairs(docs.where(col("doc_id") > 50),
      n = 3, num = 4, den = 5)
    assert(rows(full.where(col("id_a") > 50)) == rows(subset))
  }
}
