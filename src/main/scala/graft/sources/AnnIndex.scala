package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Clustering, Similarity}

/** Persisted IVF index: the write-once ANN layout a serving pipeline
  * probes per query batch. [[Similarity.annIvfKmeansIndexed]] amortizes
  * the k-means within ONE session; at 100 TB the index outlives any
  * session, so this materializes both halves on disk:
  *
  *  - `cent`  (cluster, cv)                 — k·d rows, plain parquet
  *  - `cells` (vec_id, cell, e, nrm)        — bucketed by cell: the
  *    posting lists, with the cast vector and hoisted norm stored so a
  *    probe never rescans or recomputes over the corpus table
  *
  * A query batch assigns itself against the persisted centroids
  * (broadcast argmin), then reads ONLY its own cells' postings — the
  * `cell IN (...)` filter prunes buckets at the scan, which is the IVF
  * promise: query cost ∝ probed postings, not corpus size. The cell-id
  * list collected to build that filter is query-batch-sized (≤ one id
  * per query), never data-sized.
  */
object AnnIndex {

  private def tables(tag: String): (String, String) =
    (s"graft_ann_cent_$tag", s"graft_ann_cells_$tag")

  /** Materialize centroids + cell-bucketed postings for `emb`. */
  def writeIndex(emb: DataFrame, tag: String, nClusters: Int, iters: Int,
                 buckets: Int = 8): Unit = {
    val (centT, cellsT) = tables(tag)
    val cents = Clustering.lloydCentroids(emb, nClusters, iters)
    cents.write.mode("overwrite").format("parquet").saveAsTable(centT)
    val pre = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e"), col("e"))))
      .join(Clustering.cellAssignments(emb, cents), "vec_id")
    pre.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").saveAsTable(cellsT)
  }

  /** Top-k cosine neighbors for `queries` against the persisted index.
    * Same output contract (and, for the same parameters, the same
    * result) as [[Similarity.annIvfKmeansIndexed]] — the gate shares
    * its oracle.
    */
  def query(spark: SparkSession, tag: String, queries: DataFrame,
            k: Int): DataFrame = {
    val (centT, cellsT) = tables(tag)
    queryTables(spark, centT, cellsT, queries, k)
  }

  private[graft] def queryTables(spark: SparkSession, centT: String,
                                 cellsT: String, queries: DataFrame,
                                 k: Int): DataFrame = {
    val cents = spark.table(centT)
    val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", sqrt(Similarity.dot(col("qe"), col("qe"))))
      .join(Clustering.cellAssignments(queries, cents)
        .select(col("vec_id").as("query_id"), col("cell")), "query_id")
    // query-batch-sized driver list (≤ one cell id per query): the IN
    // filter is what lets the scan prune to the probed buckets
    val qCells = q.select("cell").distinct().collect().map(_.getLong(0))
    val posts = spark.table(cellsT).where(col("cell").isin(qCells: _*))
    val scored = posts.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Similarity.dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("cos"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Gate query: IVF top-k through the PERSISTED index — built once
    * per (SparkContext, sf dir), probed on every rerun; same parameters
    * and oracle as `ann_ivf_kmeans`. The memo's once-cell completes the
    * index write before any concurrent caller can query it.
    */
  def annReport(spark: SparkSession, dir: String, nQueries: Int, k: Int,
                nClusters: Int = 8, iters: Int = 5): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val tag = SessionCache.perContext(spark, ("AnnIndex", dir)) {
      val t = StagedTags.tagOf(dir)
      writeIndex(emb, t, nClusters, iters)
      t
    }
    query(spark, tag, emb.where(col("vec_id") < nQueries), k)
  }

  // ------------------------------------------------------------------
  // Incremental maintenance (round 11): new vectors APPEND to their
  // home cell's postings — one broadcast argmin against the persisted
  // centroids plus a bucket-partitioned append. Base posting files are
  // never rewritten (spec-proven); centroids stay frozen until the
  // drift tripwire says a rebuild is due, exactly how a production IVF
  // index absorbs a day's embeddings.
  // ------------------------------------------------------------------

  private def tablesInc(tag: String): (String, String) =
    (s"graft_anni_cent_$tag", s"graft_anni_cells_$tag")

  /** The posting rows for `emb` against a FIXED centroid set: cast
    * vector + hoisted norm + home cell (broadcast argmin — the same
    * shape writeIndex precomputes, factored so base build and delta
    * append share it).
    */
  private def postingsFor(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(Similarity.dot(col("e"), col("e"))))
      .join(Clustering.cellAssignments(emb, cents), "vec_id")

  /** Build the incremental index family: centroids trained on
    * `embTrain` ONLY (the frozen quantizer), postings over `embPost`.
    * The production base build passes the same frame for both; the
    * spec's one-shot reference passes (base, all) to produce the
    * target state an append must reach.
    */
  def writeIncBase(embTrain: DataFrame, embPost: DataFrame, tag: String,
                   nClusters: Int, iters: Int, buckets: Int = 8): Unit = {
    val (centT, cellsT) = tablesInc(tag)
    val cents = Clustering.lloydCentroids(embTrain, nClusters, iters)
    cents.write.mode("overwrite").format("parquet").saveAsTable(centT)
    postingsFor(embPost, cents).write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").saveAsTable(cellsT)
  }

  /** Fold a delta of new vectors into the persisted index: assign each
    * against the FROZEN centroids (broadcast argmin — no training),
    * append to the bucketed postings table. Existing files are
    * untouched; each bucket gains one new file per append, compacted
    * whenever the periodic centroid rebuild rewrites the index.
    */
  def appendDelta(spark: SparkSession, tag: String, embDelta: DataFrame,
                  buckets: Int = 8): Unit = {
    val (centT, cellsT) = tablesInc(tag)
    postingsFor(embDelta, spark.table(centT))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").saveAsTable(cellsT)
  }

  /** The base/delta split point: the last ~20% of vec_ids play the
    * nightly delta (engine- and SF-independent integer math, mirrored
    * by the oracle's scalar subquery).
    */
  def incCut(spark: SparkSession, dir: String): Long =
    (graft.Tables.embeddings(spark, dir).agg(max("vec_id")).head().getLong(0)
      + 1L) * 4L / 5L

  // one base+append build per (SparkContext, dir, params); staging key
  // AND table tag both carry the index parameters: a second caller
  // with different (nClusters, iters) must get its own build, never a
  // silently-mismatched cached one
  private def ensureInc(spark: SparkSession, dir: String,
                        nClusters: Int, iters: Int): String =
    SessionCache.perContext(spark, ("AnnIndex.inc", dir, nClusters, iters)) {
      val t = StagedTags.tagOf(s"$dir#$nClusters#$iters")
      val emb = graft.Tables.embeddings(spark, dir)
      val cut = incCut(spark, dir)
      writeIncBase(emb.where(col("vec_id") < cut),
        emb.where(col("vec_id") < cut), t, nClusters, iters)
      appendDelta(spark, t, emb.where(col("vec_id") >= cut))
      t
    }

  /** Gate query: IVF top-k through the INCREMENTED index — centroids
    * trained on the base 80%, the delta 20% folded in by append-only
    * probes. The oracle recomputes the same frozen-quantizer contract
    * (Lloyd over base ids, assignment over all).
    */
  def annIncrementReport(spark: SparkSession, dir: String, nQueries: Int,
                         k: Int, nClusters: Int = 8,
                         iters: Int = 5): DataFrame = {
    val tag = ensureInc(spark, dir, nClusters, iters)
    val (centT, cellsT) = tablesInc(tag)
    queryTables(spark, centT, cellsT,
      graft.Tables.embeddings(spark, dir).where(col("vec_id") < nQueries), k)
  }

  // ------------------------------------------------------------------
  // Serving pointer: the (cent, cells) tables a production probe reads
  // for an inc-family tag RIGHT NOW. Maintenance (compact, rebuild)
  // writes NEW tables and publishes them here in one map update — the
  // atomic swap. The superseded tables are never deleted in-session:
  // they are the recovery path if a write dies mid-flight (ADVICE r11:
  // the old compact() overwrote the table it was reading through a
  // localCheckpoint snapshot — an executor loss could strand it).
  // Gate queries stay VERSION-PINNED (each probes the table version
  // its oracle describes, so gate order cannot change an answer); the
  // pointer is the production read path, spec-proven to track swaps.
  // ------------------------------------------------------------------
  private val current =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The tables a production probe of inc-family `tag` reads now. */
  def servingTables(tag: String): (String, String) =
    current.getOrDefault(tag, tablesInc(tag))

  // per-tag maintenance generation: every compaction/rebuild writes a
  // NEW `_g<N>` table — a SECOND maintenance round on the same tag
  // would otherwise read its own predecessor through the serving
  // pointer and overwrite the very table it scans (the
  // overwrite-while-read trap, round-12 self-review)
  private val gens = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  private def nextGen(tag: String): Int =
    gens.computeIfAbsent(tag,
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()

  /** Compact the incremented postings: each append leaves one more
    * file per touched bucket, and an index that absorbs deltas forever
    * degrades into a small-file scan problem — so periodic compaction
    * rewrites the SAME rows (frozen centroids and cell assignments
    * untouched) into one file per bucket, in a NEW table, then swaps
    * the serving pointer. `repartition(buckets, cell)` uses the bucket
    * hash, so each task holds exactly one bucket's rows and writes
    * exactly one file. Query results are byte-identical by
    * construction (spec-proven), which is what makes compaction safe
    * to schedule. Returns the compacted cells table.
    */
  def compact(spark: SparkSession, tag: String, buckets: Int = 8): String = {
    val (centT, cellsT) = servingTables(tag)
    val cellsC = s"graft_annc_cells_${tag}_g${nextGen(tag)}"
    spark.table(cellsT).repartition(buckets, col("cell"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").saveAsTable(cellsC)
    current.put(tag, (centT, cellsC))
    cellsC
  }

  /** Gate query: the increment top-k served AFTER compaction — the
    * full maintenance cycle (base build → append → compact → probe)
    * with the result provably unchanged (same oracle as
    * `ann_ivf_increment`). Pinned to the compacted cells table — the
    * state its oracle describes — regardless of later swaps.
    */
  def annCompactReport(spark: SparkSession, dir: String, nQueries: Int,
                       k: Int, nClusters: Int = 8,
                       iters: Int = 5): DataFrame = {
    val tag = ensureInc(spark, dir, nClusters, iters)
    val cellsC = SessionCache.perContext(spark,
      ("AnnIndex.compact", dir, nClusters, iters)) { compact(spark, tag) }
    val (centT, _) = tablesInc(tag)
    queryTables(spark, centT, cellsC,
      graft.Tables.embeddings(spark, dir).where(col("vec_id") < nQueries), k)
  }

  /** REBUILD — the step the drift tripwire schedules, closing the
    * maintenance loop (base build → appends → drift → rebuild →
    * tomorrow's appends target the rebuilt base). Retrains the coarse
    * quantizer with Lloyd over the index's OWN stored vectors (base ∪
    * every appended delta — no corpus rescan), re-encodes the postings
    * in one broadcast-argmin pass reusing the stored cast vector and
    * hoisted norm (only the cell changes), writes both halves as NEW
    * `graft_annr_*` tables, and swaps the serving pointer. Because the
    * retrain spans all stored vectors with the same deterministic
    * seeds, the rebuilt index is identical to a from-scratch
    * [[writeIncBase]] over base∪delta (spec-proven) — i.e. the frozen-
    * quantizer staleness is fully paid down. Returns the new tables.
    */
  def rebuild(spark: SparkSession, tag: String, nClusters: Int, iters: Int,
              buckets: Int = 8): (String, String) = {
    val (_, cellsT) = servingTables(tag)
    val posts = spark.table(cellsT)
    val cents = Clustering.lloydCentroids(
      posts.select(col("vec_id"), col("e").as("embedding")), nClusters, iters)
    val g = nextGen(tag)
    val (centR, cellsR) =
      (s"graft_annr_cent_${tag}_g$g", s"graft_annr_cells_${tag}_g$g")
    cents.write.mode("overwrite").format("parquet").saveAsTable(centR)
    // one-pass re-encode: k·d argmin per posting row against the ONE-
    // row broadcast centroid array; e and nrm ride along unchanged
    posts.select(col("vec_id"), col("e"), col("nrm"))
      .join(broadcast(spark.table(centR)
        .agg(sort_array(collect_list(struct(col("cluster"), col("cv"))))
          .as("cents"))))
      .withColumn("cell", graft.functions.functions
        .nearest_centroid_l2(Clustering.scaledVec(col("e")), col("cents"))
        .getField("cluster"))
      .select("vec_id", "e", "nrm", "cell")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "cell").saveAsTable(cellsR)
    current.put(tag, (centR, cellsR)) // the atomic swap
    (centR, cellsR)
  }

  /** CONSUME the drift tripwire: compute [[annIncrementDrift]] and,
    * when `rebuild_due`, run the scheduled [[rebuild]] + swap — the
    * production maintenance decision as one call. The returned row is
    * the drift report plus the action taken. On the fixture corpora
    * the delta is in-distribution (drift_ppm ≈ 10⁶ < the 1.5×10⁶ bar)
    * so the gate row reports `keep` deterministically at every SF; the
    * rebuild branch is exercised by the spec on a synthetically
    * drifted delta. The decision read is a 1-row driver fetch — the
    * maintenance controller, not a data path.
    *
    * The rebuild runs on a DEDICATED maintenance family (ADVICE r12):
    * retraining the shared [[ensureInc]] tag would swap its serving
    * pointer, and a later compact on that tag would pair the REBUILT
    * postings with the frozen `graft_anni` centroids pinned by
    * [[annCompactReport]] — a mismatched quantizer/postings pair whose
    * answer depends on gate order. The shared tag is only ever READ
    * here (by the drift scan); its tables and pointer never change.
    */
  def annMaintain(spark: SparkSession, dir: String, nClusters: Int = 8,
                  iters: Int = 5): DataFrame = {
    val drift = annIncrementDrift(spark, dir, nClusters, iters)
    val key = s"$dir#$nClusters#$iters"
    // ONE maintenance decision per (SparkContext, dir, params) — ADVICE
    // r12: the tripwire always compares against the FROZEN graft_anni
    // centroids (never the rebuilt ones), so on a drifted corpus
    // `rebuild_due` would never clear and every annMaintain call would
    // retrain and write fresh _g<N> tables. The memo makes repeat calls
    // idempotent. Context-scoped like the table stagings it mirrors:
    // `newSession()` shares the external catalog, so the rebuilt tables
    // are readable from every session of the context
    SessionCache.perContext(spark, ("AnnIndex.maintain", key)) {
      val due = drift.head().getAs[Boolean]("rebuild_due")
      if (due) {
        // own base+append build (same split and parameters as the
        // shared increment family), then the retrain — the serving
        // pointer swap happens on THIS tag only
        val t = StagedTags.tagOf(key + "#mt")
        val emb = graft.Tables.embeddings(spark, dir)
        val cut = incCut(spark, dir)
        writeIncBase(emb.where(col("vec_id") < cut),
          emb.where(col("vec_id") < cut), t, nClusters, iters)
        appendDelta(spark, t, emb.where(col("vec_id") >= cut))
        rebuild(spark, t, nClusters, iters)
      }
      due
    }
    drift.withColumn("action",
      when(col("rebuild_due"), lit("rebuild")).otherwise(lit("keep")))
  }

  /** The maintenance family's tag for (dir, params) — where
    * [[annMaintain]]'s rebuild (if any) lives; spec/probe accessor.
    */
  def maintainTag(dir: String, nClusters: Int = 8, iters: Int = 5): String =
    StagedTags.tagOf(s"$dir#$nClusters#$iters#mt")

  /** Gate query: IVF top-k through the REBUILT index — the full
    * maintenance cycle run to its end (base build → append → scheduled
    * rebuild → probe). The retrain spans all vectors, so the result
    * equals a full-corpus-trained IVF: the gate shares the
    * `ann_ivf_disk` oracle (unrolled-Lloyd CTE over ALL vec_ids).
    */
  def annRebuildReport(spark: SparkSession, dir: String, nQueries: Int,
                       k: Int, nClusters: Int = 8,
                       iters: Int = 5): DataFrame = {
    // rebuild-family staging, once per (SparkContext, dir, params): its
    // OWN base+append build (same split and parameters as the shared
    // increment family), because the rebuild RETRAINS the quantizer —
    // running it on the shared tag would change the increment/compact
    // gates' answers depending on gate order
    val (centR, cellsR) = SessionCache.perContext(spark,
      ("AnnIndex.rebuild", dir, nClusters, iters)) {
        val t = StagedTags.tagOf(s"$dir#$nClusters#$iters#rb")
        val emb = graft.Tables.embeddings(spark, dir)
        val cut = incCut(spark, dir)
        writeIncBase(emb.where(col("vec_id") < cut),
          emb.where(col("vec_id") < cut), t, nClusters, iters)
        appendDelta(spark, t, emb.where(col("vec_id") >= cut))
        rebuild(spark, t, nClusters, iters)
      }
    queryTables(spark, centR, cellsR,
      graft.Tables.embeddings(spark, dir).where(col("vec_id") < nQueries), k)
  }

  /** Gate query: recall of the REBUILT index against brute-force
    * cosine truth — the eval that certifies a rebuild before the swap
    * ships (the `ann_recall_report` pattern applied to the rebuilt
    * state). Both sides are deterministic engine operators, so recall
    * is oracle-able end-to-end.
    */
  def annRebuildRecall(spark: SparkSession, dir: String, nQueries: Int = 10,
                       k: Int = 5): DataFrame = {
    val exact = Similarity
      .knnBruteForce(graft.Tables.embeddings(spark, dir), nQueries, k)
      .select("query_id", "neighbor_id")
    val approx = annRebuildReport(spark, dir, nQueries, k)
      .select("query_id", "neighbor_id")
    Similarity.recallReport(exact, approx, k)
  }

  /** Drift tripwire: compare the delta's quantization error against
    * the base's under the FROZEN centroids. A fresh delta assigned to
    * stale centroids shows inflated distance-to-centroid; when
    * drift_ppm (delta avg d² as ppm of base avg d²) exceeds 1.5×10⁶,
    * the increment loop schedules a centroid rebuild instead of
    * appending forever. All-integer (scaled d², truncating div), one
    * broadcast-argmin scan + one global aggregate.
    */
  def annIncrementDrift(spark: SparkSession, dir: String,
                        nClusters: Int = 8, iters: Int = 5): DataFrame = {
    val tag = ensureInc(spark, dir, nClusters, iters)
    val (centT, _) = tablesInc(tag)
    val cut = incCut(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val scaled = emb.select(col("vec_id"),
      Clustering.scaledVec(col("embedding")).as("ev"))
    Clustering.assignAgainst(scaled, spark.table(centT))
      .select(col("vec_id"), col("d2"))
      .agg(
        sum(when(col("vec_id") < cut, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("vec_id") >= cut, 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("vec_id") < cut, col("d2")).otherwise(0L)).as("s_base"),
        sum(when(col("vec_id") >= cut, col("d2")).otherwise(0L)).as("s_delta"))
      .select(col("n_base"), col("n_delta"),
        expr("s_base div n_base").as("base_avg_d2"),
        expr("s_delta div n_delta").as("delta_avg_d2"),
        // decimal intermediate: a GENUINELY drifted delta (the state
        // the tripwire exists for) has avg d² big enough that the
        // ×10⁶ would overflow int64 under ANSI mode — the values the
        // oracle sees are in-distribution and unaffected, the same
        // truncating-div contract either way
        expr("cast((s_delta div n_delta) * cast(1000000 as decimal(27, 0))" +
          " div greatest(s_base div n_base, 1) as bigint)")
          .as("drift_ppm"))
      .withColumn("rebuild_due", col("drift_ppm") > 1500000L)
  }
}
