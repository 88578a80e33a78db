package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted dedup index: the write-once layout an incremental dedup
  * pipeline probes nightly. [[Dedup.dedupIncrement]] recomputes the
  * base's fingerprints, signatures and shingles on every run; at 100 TB
  * the base side is the entire corpus, so a real pipeline materializes
  * those three artifacts ONCE, bucketed on their probe keys, and each
  * increment pays only its own computation plus bucket-local joins:
  *
  *  - `fp`   (doc_id, fp)             bucketed by fp      — exact probe
  *  - `band` (doc_id, band, bucket)   bucketed by bucket  — LSH probe
  *  - `sh`   (doc_id, shingle)        bucketed by doc_id  — verify side
  *  - `wn`   (doc_id, fp)             bucketed by fp      — winnow probe
  *    (the cost model says the winnowed index carries ≈0.39× the
  *    postings of full 4-gram shingles at the same run-coverage
  *    guarantee, so it is the near-dup index of choice at scale)
  *
  * The shuffle that builds each table happens at write time and is
  * amortized over every subsequent increment (the [[Bucketing]]
  * argument, applied to dedup). Probing shuffles ONLY the increment:
  * Spark plans the bucketed side of each join without an Exchange.
  */
object DedupIndex {

  private def tables(tag: String): (String, String, String) =
    (s"graft_ddx_fp_$tag", s"graft_ddx_band_$tag", s"graft_ddx_sh_$tag")

  private def winnowTable(tag: String): String = s"graft_ddx_wn_$tag"

  /** Materialize the base corpus's dedup index as bucketed tables.
    * Base doc_ids must all be smaller than any future increment's ids
    * (the watermark contract incremental dedup already assumes).
    */
  def writeIndex(base: DataFrame, tag: String, n: Int, b: Int, r: Int,
                 seed: Long = 42L, buckets: Int = 8): Unit = {
    // measured at sf0.1/local[32]: 8 buckets probe in 4.7 s, 32
    // buckets in 5.9 s — small-file scan overhead beats the extra
    // task parallelism at this scale; a real deployment sizes buckets
    // to executor count x a small factor
    val (fpT, bandT, shT) = tables(tag)
    base.select(col("doc_id"), md5(col("text")).as("fp"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "fp").saveAsTable(fpT)
    Dedup.bandedSigs(Dedup.minhashSignatures(base, n, b * r, seed), b, r)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "bucket").saveAsTable(bandT)
    Dedup.shingles(base, n)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "doc_id").saveAsTable(shT)
    Dedup.winnowSelected(base, k = 4, w = 4)
      .select(col("doc_id"), explode(array_distinct(col("fps"))).as("fp"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "fp").saveAsTable(winnowTable(tag))
  }

  /** [[Dedup.winnowIncrement]] semantics against the PERSISTED winnow
    * index: new arrivals compute their own fingerprints fresh and probe
    * the base's bucketed (doc_id, fp) table — the base corpus is never
    * re-winnowed and never re-paired with itself, and the base side of
    * the probe join plans WITHOUT an Exchange (it is bucketed on fp,
    * the join key). Output (new_id, base_id, shared) is identical to
    * the recompute operator, which is what the shared oracle asserts.
    */
  def winnowIncrementAgainstIndex(spark: SparkSession, tag: String,
                                  incoming: DataFrame, k: Int = 4,
                                  w: Int = 4, minShared: Int = 3): DataFrame = {
    val base = spark.table(winnowTable(tag))
      .select(col("doc_id").as("base_id"), col("fp"))
    val fresh = Dedup.winnowSelected(incoming, k, w)
      .select(col("doc_id").as("new_id"),
        explode(array_distinct(col("fps"))).as("fp"))
    fresh.join(base, "fp")
      .groupBy("new_id", "base_id").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .orderBy("new_id", "base_id")
  }

  /** [[Dedup.dedupIncrement]] semantics against the PERSISTED index:
    * which incoming documents exact- or near-duplicate the base (read
    * from the index — base text is never re-tokenized) or an
    * earlier-id incoming document. Output (doc_id, reason), `exact`
    * outranking `near`, identical to the recompute-based operator —
    * the gate shares its oracle.
    */
  def incrementAgainstIndex(spark: SparkSession, tag: String,
                            incoming: DataFrame, n: Int, b: Int, r: Int,
                            num: Int, den: Int, seed: Long = 42L): DataFrame = {
    val (fpT, bandT, shT) = tables(tag)
    val baseFp = spark.table(fpT)
    val baseBand = spark.table(bandT)
    val baseSh = spark.table(shT)
    // exact: fingerprint already in the base index, or an earlier
    // incoming doc carries the same fingerprint. The incoming-side
    // derivations (fp, banded minhash) are each consumed by 2+
    // branches of one plan — materialize them once (increment-sized
    // frames) instead of re-hashing the increment per branch
    val inFp = incoming.select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint()
    val exVsBase = inFp.join(baseFp.select("fp"), Seq("fp"), "left_semi")
      .select("doc_id")
    val exVsEarlier = inFp.groupBy("fp").agg(min("doc_id").as("keep_id"))
      .join(inFp, "fp")
      .where(col("doc_id") > col("keep_id"))
      .select("doc_id")
    val exactDrops = exVsBase.union(exVsEarlier).distinct()
    // near: incoming bands probe the index (base-new) and each other
    // (new-new); base-base pairs are structurally impossible
    val inBand = Dedup.bandedSigs(
      Dedup.minhashSignatures(incoming, n, b * r, seed), b, r)
      .localCheckpoint()
    val candBaseNew = baseBand.as("a").join(inBand.as("b"), Seq("band", "bucket"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val candNewNew = inBand.as("a").join(inBand.as("b"), Seq("band", "bucket"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cands = candBaseNew.union(candNewNew).distinct()
    // verify: base shingles come from the index, incoming computed fresh
    val shAll = baseSh.union(Dedup.shingles(incoming, n))
    val nearDrops = Dedup.verifyJaccardSh(shAll, cands, num, den)
      .select(col("id_b").as("doc_id")).distinct()
    exactDrops.select(col("doc_id"), lit("exact").as("reason"))
      .union(nearDrops.join(exactDrops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("near").as("reason")))
      .orderBy("doc_id")
  }

  // the base index (doc_id ≤ baseMaxId), written once per
  // (SparkContext, sf dir) and shared by both increment gates
  private def ensure(spark: SparkSession, dir: String, docs: DataFrame,
                     baseMaxId: Long): String =
    SessionCache.perContext(spark, ("DedupIndex", dir)) {
      val t = StagedTags.tagOf(dir)
      writeIndex(docs.where(col("doc_id") <= baseMaxId), t,
        n = 3, b = 32, r = 4)
      t
    }

  /** Gate query: the incremental dedup report through the persisted
    * index — base (doc_id ≤ baseMaxId) indexed ONCE per (SparkContext,
    * sf dir), every rerun probes it. Equivalent by construction to
    * [[Dedup.dedupIncrement]] over the full table, which is what the
    * shared oracle asserts.
    */
  def incrementReport(spark: SparkSession, dir: String,
                      baseMaxId: Long): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val tag = ensure(spark, dir, docs, baseMaxId)
    incrementAgainstIndex(spark, tag, docs.where(col("doc_id") > baseMaxId),
      n = 3, b = 32, r = 4, num = 4, den = 5)
  }

  /** Gate query: [[Dedup.winnowIncrement]] through the persisted winnow
    * index — same staging (one index build per (SparkContext, sf dir)), same
    * oracle as the recompute path.
    */
  def winnowIncrementReport(spark: SparkSession, dir: String,
                            baseMaxId: Long): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val tag = ensure(spark, dir, docs, baseMaxId)
    winnowIncrementAgainstIndex(spark, tag,
      docs.where(col("doc_id") > baseMaxId))
  }
}
